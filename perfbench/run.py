#!/usr/bin/env python3
"""Repo benchmark: a 4CE site run and a drain of registered stream rows,
timed end to end, with per-layer numbers from a separate traced run.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the repo's sources plus the JVM runner in perfbench/jvm with sbt
into .bench_build/ (once per source state), runs the runner in a freshly
wiped scratch root under .bench_build/run, checks every op's output
against its registered DuckDB oracle with tools/check_parity.py's strict
comparison, and prints one JSON object as the last stdout line. Exits
nonzero when an op fails, an output check fails, or the program cannot
be built or run. Workloads and their reasons are in perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

import bench_math as bm

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(BUILD, "run")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
# workload -> scale factor of its fixture
WORKLOADS = {"fource_site": "0.1", "stream_drain": "0.01"}
JVM_TIMEOUT_S = 165

END_TO_END = (("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
              ("heap_peak_mb", "MB"))
LAYER_UNITS = {"ms": "ms", "mb": "MB", "s": "s"}

# Spark on JDK 17 outside spark-submit: the opens build.sbt also sets.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    die("no Spark jars: set SPARK_HOME")


def fixture_dir(sf):
    """The read-only tables at scale factor `sf`: <PERFBENCH_TESTDATA>/sf<sf>,
    else the directory TESTDATA.md lists for that scale factor."""
    base = os.environ.get("PERFBENCH_TESTDATA")
    if base:
        d = os.path.join(base, f"sf{sf}")
    else:
        m = os.path.exists("TESTDATA.md") and re.search(
            rf"^\|\s*{re.escape(sf)}\s*\|\s*`([^`]+)`",
            open("TESTDATA.md").read(), re.M)
        d = m and m.group(1)
    if not d or not os.path.exists(os.path.join(d, "events.parquet")):
        die(f"sf{sf} tables not found ({d!r}); set PERFBENCH_TESTDATA")
    return d.rstrip("/")


def sources_digest():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm")):
        for dp, _, fs in os.walk(base):
            files += [os.path.join(dp, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def build(jars):
    stamp = os.path.join(BUILD, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building (sbt compile)")
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars, COURSIER_MODE="offline",
               TMPDIR=tmp)
    # offline resolution as tier-1 sets it up, unless SBT_OPTS says otherwise
    repos = os.path.expanduser("~/.sbt/repositories")
    default = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else "")
    # sbt's own state and temp files stay in the checkout too
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", default),
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
        f"-Djava.io.tmpdir={tmp}"])
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "--no-server",
                            "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=850)
    if p.returncode != 0:
        die(f"build failed; see {BUILD}/build.log", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.0f} s")


def heap_size():
    """The heap tier-1 gives Spark: half of RAM, within [2, 8] GiB."""
    try:
        kb = int(re.search(r"MemTotal:\s+(\d+)", open("/proc/meminfo").read())
                 .group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def run_jvm(args, jars, sf):
    """Run the JVM runner; returns its result document and the oracle
    frames, which a thread computes in DuckDB once the timed passes are
    over (the runner then writes oracle_sql.json), so they overlap the
    runner's output dump and shutdown instead of following them."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    work, tmp, local = (os.path.join(SCRATCH, d) for d in ("work", "tmp", "local"))
    for d in (work, tmp, local):
        os.makedirs(d)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_DRIVER_MEM=heap_size(),
               TMPDIR=tmp)
    env.pop("SPARK_LOCAL_DIRS", None)
    # fource_site's ops are fixed in FourCESite.scala
    ops = os.path.join(HERE, "workloads", f"{args.workload}.txt")
    if not os.path.exists(ops):
        ops = "-"
    cmd = (["java", "-XX:-UsePerfData"] + ADD_OPENS +
           [f"-Xmx{env['SPARK_DRIVER_MEM']}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}{os.pathsep}{jars}/*", "perfbench.Runner",
            args.workload, ops, sf, SCRATCH, str(args.seed),
            str(args.seconds), str(args.trace), repr(time.time() * 1000.0)])
    sql_path = os.path.join(SCRATCH, "oracle_sql.json")
    frames = {}
    oracle = threading.Thread(target=oracle_frames, args=(sf, sql_path, frames),
                              daemon=True)
    deadline = time.time() + JVM_TIMEOUT_S
    # a SIGTERM to this script must not leave the JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(5))
    with open(os.path.join(SCRATCH, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            while p.poll() is None:
                if oracle.ident is None and os.path.exists(sql_path):
                    oracle.start()
                if time.time() > deadline:
                    die(f"runner exceeded {JVM_TIMEOUT_S} s", 4)
                time.sleep(0.05)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    code = p.returncode
    res = os.path.join(SCRATCH, "result.json")
    if code != 0 or not os.path.exists(res):
        tail = open(os.path.join(SCRATCH, "jvm.log")).read()[-3000:]
        die(f"runner exited {code}:\n{tail}", 4)
    if oracle.ident is None:
        oracle.start()
    oracle.join()
    if len(frames) != len(json.load(open(sql_path))):
        die("oracle queries did not all run", 4)
    return json.load(open(res)), frames


def oracle_frames(sf, sql_path, frames):
    """Run every oracle query over the fixture; an oracle that fails to
    run is kept as its exception."""
    import duckdb
    from check_parity import TABLES
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for name, sql in json.load(open(sql_path)).items():
        try:
            frames[name] = con.execute(sql).fetchdf()
        except Exception as e:  # reported as a failed check
            frames[name] = e


def check_outputs(r, frames, cold_rows):
    """Strict oracle comparison for every op output; ops without an
    oracle get a row-count check against the cold pass. Returns a list of
    (name, ok, detail)."""
    import pandas as pd
    import check_parity as cp
    cp.STRICT = True
    out = []
    for c in r["checks"]:
        name = c["name"]
        if "err" in c:
            out.append((name, False, f"output not written: {c['err']}"))
            continue
        df = pd.read_parquet(c["path"])
        want = frames.get(c["oracle"])
        if want is None:
            rows = cold_rows.get(name)
            err = None if rows == len(df) else f"ROWS {len(df)} vs cold {rows}"
        elif isinstance(want, Exception):
            err = f"oracle error: {want}"
        else:
            err = cp.cmp(name, df, want)
        out.append((name, err is None,
                    err or f"{len(df)} rows, sum {bm.checksum(df, cp.norm)}"))
    return out


def end_to_end(r):
    passes = r["passes"]
    warm = [p for p in passes[1:] if not p["traced"]] or passes[1:]
    op_s = [o["wall_s"] for p in warm for o in p["ops"]]
    p50, n, beyond50 = bm.percentile(op_s, 50)
    p90, _, beyond90 = bm.percentile(op_s, 90)
    return {
        "setup_s": r["setup_s"],
        "first_pass_s": passes[0]["wall_s"],
        "pass_s": bm.median([p["wall_s"] for p in warm]),
        "heap_peak_mb": max(p["heap_mb"] for p in passes),
    }, {"op_p50_s": (p50, beyond50), "op_p90_s": (p90, beyond90),
        "op_samples": n, "warm_passes": len(warm)}


def per_layer(r):
    spans = bm.build_spans(r["trace"])
    with open(os.path.join(SCRATCH, "spans.json"), "w") as f:
        json.dump(spans, f)
    passes = r["passes"]
    pass_span = {s["name"]: s["id"] for s in spans if s["kind"] == "pass"}
    traced = [p for p in passes[1:] if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]
    per = [bm.layer_metrics(spans, pass_span[f"pass{p['idx']}"], r["cores"],
                            sum(max(o["rows"], 0) for o in p["ops"]),
                            p["out_mb"])
           for p in traced]
    m = {k: bm.median([x[k] for x in per]) for k in per[0]}
    m["memo.builds"] = passes[0]["builds"]
    m["memo.cached_mb"] = bm.median([p["cached_mb"] for p in passes[1:]])
    m["trace.overhead_s"] = (bm.median([p["wall_s"] for p in traced]) -
                             bm.median([p["wall_s"] for p in plain]))
    unattr = bm.op_unattributed(
        spans, {pass_span[f"pass{p['idx']}"] for p in traced})
    warm_builds = sum(p["builds"] for p in passes[1:])
    return m, unattr, warm_builds


def layer_unit(name):
    suffix = name.rsplit("_", 1)[-1]
    if name.endswith("core_busy") or name.endswith("per_row_out") or \
            name.endswith("skew_p90"):
        return "ratio"
    return LAYER_UNITS.get(suffix, "count")


NOTES = [
    "memo.cached_mb is every cached RDD Spark reports, not only Memo "
    "entries: from outside, a Memo persist and any other persist look alike",
    "memo.builds counts builds in the cold pass; warm passes must add none",
    "stream.* apply to stream_drain, fource.* to fource_site; elsewhere 0",
    "work a registered fn runs through the RDD API reports jobs but no "
    "catalyst phases; its planning time lands in query.unattributed_ms",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("src/main/scala/graft/SparkEntry.scala",
                 "tools/check_parity.py"):
        if not os.path.exists(need):
            die(f"run from the repository root: {need} is missing")
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    jars = spark_jars()
    sf = fixture_dir(WORKLOADS[args.workload])
    build(jars)
    t0 = time.time()
    r, frames = run_jvm(args, jars, sf)
    t_jvm = time.time()

    passes = r["passes"]
    cold_rows = {o["name"]: o["rows"] for o in passes[0]["ops"]}
    attempted = sum(len(p["ops"]) for p in passes)
    failed_ops = [(p["idx"], o["name"], o["err"] or f"rows {o['rows']}")
                  for p in passes for o in p["ops"] if not o["ok"]]
    checks = check_outputs(r, frames, cold_rows)
    attempted += len(checks)
    failed = len(failed_ops) + sum(1 for _, ok, _ in checks if not ok)
    for i, name, why in failed_ops:
        print(f"FAIL pass{i} {name}: {why}")
    for name, ok, detail in checks:
        print(f"{'check' if ok else 'FAIL check'} {name}: {detail}")

    cal = r["calib"]
    print(f"workload {args.workload} seed {args.seed} cores {r['cores']} "
          f"passes {len(passes)} fixture {r['fixture']}")
    print("host window (not metrics): "
          f"calib_ms {cal['before']['cpu_ms']} -> {cal['after']['cpu_ms']}, "
          f"io_calib_mbs {cal['before']['io_mbs']:.0f} -> "
          f"{cal['after']['io_mbs']:.0f}")
    ff = bm.fail_frac(attempted, failed)
    print(f"fail_frac {ff:.4f} ratio ({failed} of {attempted})")
    if args.trace:
        m, unattr, warm_builds = per_layer(r)
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(m.items())}
        print(f"memo builds in warm passes: {warm_builds}")
        for name, xs in sorted(unattr.items()):
            print(f"op {name} query.unattributed_ms {bm.median(xs):.3f} "
                  f"(n={len(xs)})")
        for n in NOTES:
            print(f"note: {n}")
    else:
        e2e, counts = end_to_end(r)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        print(f"warm passes {counts['warm_passes']}, op samples "
              f"{counts['op_samples']}")
        # too few samples per run for a bounded percentile (NOTES.md)
        for k in ("op_p50_s", "op_p90_s"):
            v, beyond = counts[k]
            print(f"{k} {v:.6g} s (n={counts['op_samples']}, {beyond} beyond)")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    marks = [(m["at"], m["ms"] / 1e3) for m in r["marks"]]
    steps = [(a, f"{t - s:.1f}") for (_, s), (a, t) in
             zip([("launch", t0)] + marks, marks + [("stop", t_jvm)])]
    log(f"run timeline (s): {steps} check+report {time.time() - t_jvm:.1f}")
    log("heap after GC per pass (MB): " +
        str([round(p["heap_mb"], 1) for p in passes]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
