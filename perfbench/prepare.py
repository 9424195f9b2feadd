"""Inputs of the benchmark that are built once per checkout and cached under
.bench_build/perfbench/: the workload pools with their oracle SQL, the sf1
fixture, and the DuckDB results every output is checked against. None of
this work is inside a timing."""
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import time

import build

FIXTURES = os.path.join(build.BENCH, "fixtures")
# sf1 is graft.tools.ScaleUp of sf0.1: FACTOR copies of every keyed row in FILES files
FACTOR = 10
FILES = 32
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _driver_check():
    """The repo's own output normalisation (tools/driver_check.py)."""
    path = os.path.join(build.ROOT, "tools", "driver_check.py")
    spec = importlib.util.spec_from_file_location("driver_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _files(top):
    return sorted(p for p in glob.glob(os.path.join(top, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def pools(classpath, jvm):
    """{workload: {query: oracle SQL}} as the program defines them."""
    # the classpath names the builds by their source hashes
    key = hashlib.sha256(classpath.encode()).hexdigest()[:16]
    path = os.path.join(build.OUT, f"pools-{key}.json")
    if not os.path.exists(path):
        log = os.path.join(build.OUT, "pools.log")
        _, rc = jvm(classpath, ["perfbench.PerfBench", "pools", path + ".tmp"], log, 300)
        if rc != 0:
            raise SystemExit(f"perfbench: listing the pools failed, see {log}")
        os.rename(path + ".tmp", path)
    with open(path) as fh:
        out = json.load(fh)
    missing = [n for w in out.values() for n, sql in w.items() if not sql]
    if missing:
        raise SystemExit(f"perfbench: entries without oracle SQL: {missing}")
    return out


def _duck(fixture_dir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for t in TABLES:
        p = os.path.join(fixture_dir, f"{t}.parquet")
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src})")
    return con


def content_id(top):
    """Digest of every file under `top`."""
    return hashlib.sha256("".join(_sha(p) for p in _files(top)).encode()).hexdigest()[:16]


def committed_fixture(name):
    d = os.path.join(FIXTURES, name)
    missing = [t for t in TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"perfbench: fixture {name} lacks {missing}")
    return d


def scaled_fixture(classpath, jvm):
    """sf1: graft.tools.ScaleUp of the committed sf0.1 fixture. Reused only
    while every file still hashes to its manifest entry; the build time is
    recorded in the manifest, apart from any run's set-up time."""
    src = committed_fixture("sf0.1")
    scaleup = os.path.join(build.ROOT, "src", "main", "scala", "graft", "tools", "ScaleUp.scala")
    source_id = hashlib.sha256(
        f"{content_id(src)} {_sha(scaleup)} {FACTOR} {FILES}".encode()).hexdigest()[:16]
    dst = os.path.join(build.OUT, "fixtures", "sf1")
    manifest_path = dst + ".manifest.json"
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        current = {os.path.relpath(p, dst): _sha(p) for p in _files(dst)}
        if manifest["source"] == source_id and manifest["files"] == current:
            return dst, manifest
    shutil.rmtree(dst, ignore_errors=True)
    if os.path.exists(manifest_path):
        os.remove(manifest_path)
    log = os.path.join(build.OUT, "scaleup.log")
    t0 = time.time()
    _, rc = jvm(classpath, ["graft.tools.ScaleUp", src, dst, str(FACTOR), str(FILES)], log, 900)
    build_s = time.time() - t0
    if rc != 0:
        raise SystemExit(f"perfbench: ScaleUp failed, see {log}")
    # content check: every keyed table holds exactly FACTOR copies
    a, b = _duck(src), _duck(dst)
    rows = {}
    for t in TABLES:
        n_src = a.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        n_dst = b.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        expect = n_src if t in ("region", "nation") else n_src * FACTOR
        if n_dst != expect:
            raise SystemExit(f"perfbench: sf1 {t} has {n_dst} rows, expected {expect}")
        rows[t] = n_dst
    for junk in glob.glob(os.path.join(dst, "**", "*.crc"), recursive=True) + \
            glob.glob(os.path.join(dst, "**", "_SUCCESS"), recursive=True):
        os.remove(junk)
    manifest = {"source": source_id, "build_s": build_s, "rows": rows,
                "files": {os.path.relpath(p, dst): _sha(p) for p in _files(dst)}}
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=1)
    return dst, manifest


def expected(workload, fixture_id, fixture_dir, pool_sql):
    """DuckDB results of every pool entry, canonicalised the way
    tools/driver_check.py does it and cached per (fixture, SQL)."""
    dc = _driver_check()
    cache = os.path.join(build.OUT, "expected", workload)
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(pool_sql.items()):
        key = hashlib.sha256((fixture_id + sql).encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.json")
        if not os.path.exists(path):
            con = con or _duck(fixture_dir)
            t0 = time.time()
            try:
                want = dc.canon(con.execute(sql).fetchdf())
                rec = {"columns": list(want.columns),
                       "rows": normalise(want.astype(str).values.tolist())}
            except Exception as e:  # an oracle that cannot run fails its entry
                rec = {"error": f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"}
            rec["oracle_s"] = time.time() - t0
            with open(path + ".tmp", "w") as fh:
                json.dump(rec, fh)
            os.rename(path + ".tmp", path)
        out[name] = path
    return out


def normalise(rows):
    """Midnight timestamp == date, as tools/driver_check.py accepts it."""
    return [[v[:-9] if v.endswith(" 00:00:00") else v for v in r] for r in rows]


def check(result_dir, expected_path, dc, corrupt=False):
    """None when the Spark result equals the expected one, else the reason.
    `corrupt` alters the expected rows first (the benchmark's self-test)."""
    import pandas as pd
    with open(expected_path) as fh:
        want = json.load(fh)
    if corrupt and "rows" in want:
        want["rows"] = want["rows"][1:] + [["corrupted"] * len(want["columns"])]
    if "error" in want:
        return "oracle " + want["error"]
    parts = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    got = dc.canon(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
    if list(got.columns) != want["columns"]:
        return f"columns {list(got.columns)} vs {want['columns']}"
    if len(got) != len(want["rows"]):
        return f"rows {len(got)} vs {len(want['rows'])}"
    rows = normalise(got.astype(str).values.tolist())
    for i, (g, w) in enumerate(zip(rows, want["rows"])):
        if g != w:
            return f"row {i}: {g[:4]} vs {w[:4]}"
    return None
