#!/usr/bin/env python3
"""Host-sized crawl and analytics benchmark of the graft engine.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use (the
classpath is cached under perfbench/target), generates the workload's inputs
from the seed, runs one JVM sized from the host (cores from nproc, heap from
MemTotal), checks every output, and prints a table followed by one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_wide", "crawl_discover", "analytics")
E2E = (("setup_s", "s"), ("work_s", "s"), ("heap_live_peak_mb", "MiB"))
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb(mem_kb):
    """Half of MemTotal in GiB, clamped to [2, 8] (the repo's test-JVM rule)."""
    return min(8, max(2, mem_kb // 2097152))


def sources_digest(dirs, files):
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            for n in sorted(names):
                p = os.path.join(base, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in files:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from the root of a graft checkout")
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "sources.sha256")
    digest = sources_digest(
        [engine, os.path.join(ROOT, "src", "main", "resources"), os.path.join(HERE, "src")],
        [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark installation (its jars/)")
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
    log("building engine + benchmark with sbt (first run in this checkout)")
    for tasks in (["writeClasspath"], ["clean", "writeClasspath"]):  # retry from clean
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks,
                              cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S // 2)
        if proc.returncode == 0:
            break
    if proc.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"perfbench: build failed (sbt exit {proc.returncode})")
    with open(cp_file) as f:
        cp = f.read().strip()
    # class-data sharing: a tiny crawl run archives the classes it loads, and
    # every later run maps the archive instead of loading them one by one
    log("archiving loaded classes")
    jsa = os.path.join(target, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    tiny = argparse.Namespace(workload="crawl_wide", seed=0, seconds=1, trace=0, size="tiny",
                              corrupt=None)
    run_jvm(cp, tiny, prepare_work("archive", 0, "tiny"), host_cores(), 2,
            [f"-XX:ArchiveClassesAtExit={jsa}"])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def prepare_work(workload, seed, size):
    """Per-run work dir inside the checkout; synthesized corpora are reused."""
    work = os.path.join(ROOT, ".bench_work", workload if size == "full" else f"{workload}-tiny")
    os.makedirs(work, exist_ok=True)
    for d in ("tables", "spark-local", "results", "warehouse", "tmp", "planted"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if workload == "analytics":
        sf = 0.002 if size == "tiny" else 0.02
        stamp = os.path.join(work, "sf.stamp")
        with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
            key = f"{seed} {sf} {hashlib.sha256(f.read()).hexdigest()}"
        if not (os.path.exists(stamp) and open(stamp).read() == key):
            shutil.rmtree(os.path.join(work, "sf"), ignore_errors=True)
            sys.path.insert(0, HERE)
            import gen_tables
            gen_tables.write(os.path.join(work, "sf"), seed, sf)
            with open(stamp, "w") as f:
                f.write(key)
    return work


def run_jvm(cp, args, work, cores, heap, jvm_flags):
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", f"-Xmx{heap}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm_flags + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores), "--size", args.size,
              "--corrupt", args.corrupt or "none", "--out", out])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {args.workload} did not finish in {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def oracle_checks(result, corrupt):
    """Each headline query's result must equal its DuckDB oracle SQL over the
    same tables (the comparison of tools/oracle_check.py)."""
    import duckdb
    import math
    import pandas as pd
    results = result["info"]["results_dir"]
    sf = os.path.join(os.path.dirname(results), "sf")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.sql(f"create view {t} as select * from '{sf}/{t}.parquet'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    def same(x, y):
        if isinstance(x, float) or isinstance(y, float):
            return x == y or (pd.isna(x) and pd.isna(y)) or (
                isinstance(x, float) and isinstance(y, float)
                and math.isclose(x, y, rel_tol=0, abs_tol=1e-9))
        return x == y

    checks = []
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(os.path.join(results, name))
            if corrupt == "row" and name == "q_scan_filter_agg" and len(got):
                got.loc[0, "cnt"] = got.loc[0, "cnt"] + 1
            g, w = norm(got), norm(con.sql(sql).df())
            why = ""
            if list(g.columns) != list(w.columns):
                why = f"columns {list(g.columns)} vs {list(w.columns)}"
            elif any(g[c].dtype != w[c].dtype for c in g.columns):
                why = "dtypes " + str([(c, str(g[c].dtype), str(w[c].dtype)) for c in g.columns
                                       if g[c].dtype != w[c].dtype])
            elif len(g) != len(w):
                why = f"rows {len(g)} vs {len(w)}"
            else:
                for c in g.columns:
                    bad = [(x, y) for x, y in zip(g[c].tolist(), w[c].tolist()) if not same(x, y)]
                    if bad:
                        why = f"column {c}: {bad[0][0]!r} vs {bad[0][1]!r}"
                        break
            checks.append({"name": f"oracle.{name}", "ok": not why, "detail": why})
        except Exception as e:  # a query whose result cannot be read fails its check
            checks.append({"name": f"oracle.{name}", "ok": False, "detail": f"{type(e).__name__}: {e}"})
    return checks


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke size")
    ap.add_argument("--corrupt", choices=("url", "row"), default=None,
                    help="corrupt one engine output before its check (smoke test)")
    args = ap.parse_args(argv)

    cp = build()
    cores, mem_kb = host_cores(), host_mem_kb()
    heap = heap_gb(mem_kb)
    work = prepare_work(args.workload, args.seed, args.size)
    result = run_jvm(cp, args, work, cores, heap,
                     [f"-XX:SharedArchiveFile={os.path.join(HERE, 'target', 'classes.jsa')}"])
    checks = list(result["checks"])
    attempted, failed = result["attempted"], result["failed"]
    if args.workload == "analytics" and "results_dir" in result["info"]:
        for c in oracle_checks(result, args.corrupt):
            checks.append(c)
            attempted += 1
            failed += 0 if c["ok"] else 1
    correct = failed == 0 and all(c["ok"] for c in checks)

    info = dict(result["info"], heap_xmx_gb=str(heap), mem_total_kb_host=str(mem_kb))
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in info.items() if k != "results_dir"))
    for c in checks:
        if not c["ok"]:
            print(f"# FAILED check {c['name']}: {c['detail']}")
    print(f"# checks: {sum(c['ok'] for c in checks)}/{len(checks)} passed; operations "
          f"attempted={attempted} failed={failed} failure_share={failed / max(attempted, 1):.4f}")
    for k, m in list(result["e2e"].items()) + list(result["named"].items()):
        print(f"# metric {k} = {m['value']:.6g} {m['unit']}")
    if args.trace:
        for k, m in result["layers"].items():
            print(f"# layer {k} = {m['value']:.6g} {m['unit']}")
        metrics = result["layers"]
    else:
        metrics = {k: result["e2e"].get(k, {"value": None, "unit": u}) for k, u in E2E}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
