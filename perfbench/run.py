#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the launch line under
.bench_build/; later runs start the harness JVM directly. Each run works
in a fresh directory under .bench_run/, removed at exit.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. Query outputs are checked against the DuckDB oracle SQL the
engine ships (hashes cached under perfbench/.cache/). Details of the run
(tail percentile and sample count, spans of a traced run) are written
under .bench_build/results/.

The input tables are the read-only sf0.1 test tables, taken from
$SPARK_GRAFT_SF_DIR or else ~/testdata/sf0.1.
"""
import argparse
import hashlib
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CACHE = BENCH / ".cache"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# a fixed heap and young generation: every young collection cycles the whole
# eden, so peak RSS follows retained memory rather than heap-sizing choices
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
JVM_TIMEOUT_S = 170
# part of every cached hash's key: bump it when canon/kind/table_hash change
HASH_VERSION = 1


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile engine and harness unless the sources are unchanged."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp, launch = BUILD / "stamp", BUILD / "launch.txt"
    if launch.exists() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return launch
    BUILD.mkdir(exist_ok=True)
    home = pathlib.Path.home()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building engine and harness (sbt launchFile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0 or not launch.exists():
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    stamp.write_text(h.hexdigest())
    log(f"built in {time.time() - t0:.0f} s")
    return launch


# --- output check ------------------------------------------------------

def canon(v):
    """A value's exact, engine-neutral text form."""
    if v is None:
        return "null"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "isoformat"):
        if getattr(v, "tzinfo", None) is not None:
            v = v.astimezone(__import__("datetime").timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return repr(v)


def kind(t):
    """Type class as the engine's oracle gate compares it (pandas dtype
    kind): integer widths agree, DECIMAL and HUGEINT do not match BIGINT."""
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "i"
    if t in ("FLOAT", "DOUBLE", "HUGEINT"):
        return "f"
    if t == "BOOLEAN":
        return "b"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "M"
    return "O"


def table_hash(rel):
    """Hash of a relation with columns sorted by name and rows sorted."""
    cols = sorted(rel.columns)
    rows = rel.project(", ".join(f'"{c}"' for c in cols)).fetchall()
    kinds = [kind(t) for c, t in sorted(zip(rel.columns, rel.types))]
    body = sorted("\x1f".join(canon(x) for x in r) for r in rows)
    h = hashlib.sha256(json.dumps([cols, kinds]).encode())
    for line in body:
        h.update(line.encode() + b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


def oracle_hash(con, sf_dir, sql):
    key = hashlib.sha256(f"{HASH_VERSION}\0{sf_dir}\0{sql}".encode()).hexdigest()[:24]
    f = CACHE / f"oracle-{key}.txt"
    if f.exists():
        return f.read_text()
    v = table_hash(con.sql(sql))
    CACHE.mkdir(exist_ok=True)
    f.write_text(v)
    return v


def check_outputs(sf_dir, outputs):
    """Number of query outputs that differ from their reference."""
    if not outputs:
        return 0
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = 0
    for key, path, sql in outputs:
        got = table_hash(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')"))
        want = oracle_hash(con, sf_dir, sql)
        if got != want:
            log(f"output mismatch: {key}: got {got}, want {want}")
            bad += 1
    return bad


# --- run ---------------------------------------------------------------

def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"]}, {m["name"]: m for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("run from the root of a graft checkout (build.sbt and src/ not found)")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            str(pathlib.Path.home() / "testdata" / "sf0.1"))
    if not (pathlib.Path(sf_dir) / "lineitem.parquet").exists():
        die(f"sf0.1 tables not found in {sf_dir}")
    e2e, layers = declared()
    launch = build().read_text().splitlines()
    classpath, jvm_opts = launch[0], [o for o in launch[1:] if o and not o.startswith(("-Xmx", "-Xms", "-Xmn"))]

    run_dir = ROOT / ".bench_run" / f"{a.workload}-{os.getpid()}-{time.time_ns()}"
    run_dir.mkdir(parents=True)
    try:
        for d in ("spark-local", "tmp", "warehouse", "graftwork"):
            (run_dir / d).mkdir()
        result = run_dir / "result.json"
        results = BUILD / "results"
        results.mkdir(parents=True, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        cmd = (["java"] + jvm_opts + HEAP + [
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", sf_dir, "--tmp", str(run_dir), "--result", str(result),
            "--layers", ",".join(layers)]
            + (["--spans", str(results / f"{tag}.spans.jsonl")] if a.trace else []))
        env = dict(os.environ, GRAFT_WORK_DIR=str(run_dir / "graftwork"))
        jvm = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                               stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = jvm.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
        if rc != 0 or not result.exists():
            die(f"harness exited with {rc}")
        r = json.loads(result.read_text())
        mismatched = check_outputs(sf_dir, r["outputs"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    want = e2e if a.trace == 0 else layers
    got = r["metrics"]
    if set(got) != set(want):
        die(f"printed metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    missing = [k for k, v in got.items() if v is None]
    if missing:
        die(f"no value for {missing}")
    failed = r["failed"] + mismatched
    info = r["info"]
    (results / f"{tag}.json").write_text(json.dumps(dict(r, failed=failed), indent=1))
    tail = ("none (fewer than 11 ops)" if info["tail_percentile"] is None
            else f"p{info['tail_percentile']:.1f} = {info['tail_s']:.4f} s")
    print(f"{int(info['ops'])} ops, {int(info['passes'])} passes; latency tail {tail}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {k: {"value": got[k], "unit": want[k]["unit"]} for k in want},
    }))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
