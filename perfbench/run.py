#!/usr/bin/env python3
"""Benchmark of the WordPress exporter: a fresh export and a delta re-export.

    python3 perfbench/run.py --workload export_fresh --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the exporter and the
benchmark's probes with sbt (perfbench/build.sbt) into the build's usual
`target/` directories and caches the classpath under `.bench_build/`.

Each run generates a seeded site (perfbench/wpsite.py) and starts one JVM
(perfbench.ExportRun). Its set-up ends with a first, cold export; then it
exports again and again until `--seconds` have passed (at least three
times). Every export's output is checked (perfbench/checks.py). The last
line of stdout is one JSON object: `correct`, `attempted` and `failed`
count exports, and `metrics` holds the end-to-end metrics with `--trace 0`
and the per-layer ones with `--trace 1`; per-export values are means over
the run's measured exports.

    python3 perfbench/run.py --self-test --seed 1

plants one fault per check in a copy of a good export and shows that each
check reports it.
"""
import argparse
import hashlib
import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

from checks import (check_catalog, check_export, expected_sample,  # noqa: E402
                    read_dead_letter, self_test)
from wpsite import write_site  # noqa: E402

# One twentieth of a 100k-post site. The manifest bound is scaled with it,
# so posts and assets still take the sharded path and authors, categories
# and the dead letter the single-file path, as at full size with the
# default bound of 10000.
SITE = dict(posts=5000, authors=100, categories=50, attachments=1000)
MAX_MANIFEST = 500
MIN_EXPORTS = 3
JVM_TIMEOUT_S = 150
MODULES = ("assets", "authors", "categories", "posts")

END_TO_END = {"export_s": "s", "setup_s": "s"}
PER_LAYER = {}
for _m in MODULES:
    PER_LAYER.update({
        f"pipelines.{_m}.s": "s", f"pipelines.{_m}.driver_s": "s",
        f"sinks.{_m}.write_mb": "MB", f"sinks.{_m}.files": "count",
        f"sources.{_m}.read_mb": "MB",
        f"spark.{_m}.plan_s": "s", f"spark.{_m}.jobs": "count",
        f"spark.{_m}.shuffle_mb": "MB", f"spark.{_m}.collect_mb": "MB"})
PER_LAYER.update({
    "sinks.fetch.requests": "count", "sinks.fetch.retries": "count",
    "sinks.fetch.skipped": "count", "sinks.fetch.dead_letter": "count",
    "sinks.fetch.max_inflight": "count", "sinks.fetch.tasks": "count",
    "sinks.fetch.useful_ratio": "ratio",
    "spark.codegen_s": "s", "jvm.gc_s": "s", "jvm.cpu_s": "s",
    "jvm.peak_live_heap_mb": "MB", "trace.export_s": "s"})

# Catalog sample: every 7th benched query (about 53 of 370), plus coverage.
CATALOG_STRIDE = 7
CATALOG_END_TO_END = {"catalog_s": "s", "query_p50_s": "s", "query_p80_s": "s",
                      "setup_s": "s"}

# Spark's scratch files and the JVM's temp files stay inside the checkout.
TMP = os.path.join(BUILD, "tmp")
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", f"-Dspark.local.dir={TMP}", f"-Djava.io.tmpdir={TMP}",
    "-XX:-UsePerfData"]
EXPORT_HEAP = ["-Xms2g", "-Xmx2g"]
CATALOG_HEAP = ["-Xmx4g"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Builds the exporter and the probes once per source state; returns the
    path of a java @argfile holding the classpath."""
    for need in ("build.sbt", "src/main/scala/graft/pipelines/Orchestrator.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: exporter source {need} not found under {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    stamp, argfile = source_stamp(), os.path.join(BUILD, "classpath.args")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(argfile) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return argfile
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []) + ["-Dsbt.offline=true", "-Xmx3g"]))
    log("perfbench: building with sbt (first run only)")
    with open(os.path.join(BUILD, "sbt.log"), "w") as sbt_log:
        p = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=sbt_log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = open(os.path.join(BUILD, "sbt.log")).read().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.exit("perfbench: sbt build failed, see .bench_build/sbt.log")
    with open(argfile, "w") as f:
        f.write("-cp " + lines[-1].strip() + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return argfile


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def run(argfile, workload, seed, seconds, trace, keep=False):
    """Generates the site, runs the JVM and checks every export it made.
    Returns (correct, attempted, failed, JVM result, work dir, expectations
    for the measured version)."""
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    port = free_port()
    delta = workload == "export_rerun"
    expect = write_site(os.path.join(work, "site"), seed, port, **SITE,
                        versions=(1, 2) if delta else (1,))
    v = 2 if delta else 1
    site = lambda k: os.path.join(work, "site", f"v{k}")  # noqa: E731
    plan = lambda k: os.path.join(work, "site", f"v{k}.plan")  # noqa: E731
    jvm_log = os.path.join(work, "jvm.log")
    cmd = ["java", *JAVA_OPTS, *EXPORT_HEAP, "@" + argfile, "perfbench.ExportRun",
           f"site1={site(1)}", f"plan1={plan(1)}", f"site2={site(v)}", f"plan2={plan(v)}",
           f"root={work}", f"delta={int(delta)}", f"port={port}", f"seed={seed}",
           f"maxManifest={MAX_MANIFEST}", f"seconds={seconds}",
           f"minExports={MIN_EXPORTS}", f"trace={trace}",
           f"launchMs={int(time.time() * 1000)}"]
    with open(jvm_log, "w") as lf:
        p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
    result_file = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result_file):
        log(f"perfbench: export JVM failed ({p.returncode}), tail of its log:")
        log("".join(open(jvm_log).readlines()[-20:]))
        return False, 1, 1, None, work, expect[v]
    with open(result_file) as f:
        result = json.load(f)

    failed = 0
    checked = [("setup", 1)] + [(f"out{i}", v) for i in range(len(result["exports"]))]
    samples = {k: expected_sample(site(k), seed) for k in set(k for _, k in checked)}
    for i, (name, k) in enumerate(checked):
        out = os.path.join(work, name)
        fails = check_export(out, expect[k], samples[k], seed)
        for f in fails:
            log(f"perfbench: {name}: {f}")
        failed += bool(fails)
        if i > 0:
            result["exports"][i - 1]["sinks.fetch.dead_letter"] = \
                float(len(read_dead_letter(out)))
        if not keep:
            shutil.rmtree(out)
    return failed == 0, len(checked), failed, result, work, expect[v]


def run_catalog(argfile, data, seed, trace):
    """One pass over the catalog sample on the tables in `data`; returns
    the result JSON line as a dict, or exits if the JVM fails."""
    work = os.path.join(BUILD, "work", "catalog")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_log = os.path.join(work, "jvm.log")
    cmd = ["java", *JAVA_OPTS, *CATALOG_HEAP, "@" + argfile, "perfbench.CatalogRun",
           f"data={os.path.abspath(data)}", f"root={work}", f"seed={seed}",
           f"stride={CATALOG_STRIDE}", f"trace={trace}",
           f"launchMs={int(time.time() * 1000)}"]
    with open(jvm_log, "w") as lf:
        p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=1800)
    if p.returncode != 0:
        log("".join(open(jvm_log).readlines()[-20:]))
        sys.exit(f"perfbench: catalog JVM failed ({p.returncode})")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    times = result["queries"]
    fails = result["errors"] + check_catalog(data, work, list(times))
    for f in fails:
        log(f"perfbench: {f}")
    shutil.rmtree(work, ignore_errors=True)
    values = dict(result["trace"], setup_s=result["setup_s"],
                  catalog_s=sum(times.values()),
                  query_p50_s=statistics.median(times.values()),
                  query_p80_s=statistics.quantiles(times.values(), n=10)[7])
    names = {n: "s" if n.endswith(("_s", ".s")) else "count" if n.endswith(("jobs", "tasks"))
             else "ratio" if n.endswith("skew_max") else "MB"
             for n in (result["trace"] if trace else CATALOG_END_TO_END)}
    log(f"perfbench: {len(times)} of {len(result['modules'])} queries ran")
    return {"correct": not fails, "attempted": len(result["modules"]),
            "failed": min(len(fails), len(result["modules"])),
            "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("export_fresh", "export_rerun", "catalog"))
    ap.add_argument("--data", help="catalog tables (parquet) for --workload catalog")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    argfile = build()
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)
    if a.self_test:
        ok, _, _, _, work, expect = run(argfile, "export_fresh", a.seed, 0, 0, keep=True)
        sample = expected_sample(os.path.join(work, "site", "v1"), a.seed)
        problems = self_test(os.path.join(work, "out0"), expect, sample, a.seed,
                             os.path.join(work, "faulty"))
        shutil.rmtree(work, ignore_errors=True)
        for p in problems:
            log(f"self-test: {p}")
        print(json.dumps({"self_test_passed": ok and not problems}))
        sys.exit(0 if ok and not problems else 1)

    if a.workload == "catalog":
        if not a.data:
            ap.error("--workload catalog needs --data")
        print(json.dumps(run_catalog(argfile, a.data, a.seed, a.trace)))
        return

    correct, attempted, failed, result, work, _ = run(argfile, a.workload, a.seed, a.seconds, a.trace)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.exit("perfbench: the export JVM failed")
    exports = result["exports"]
    values = {n: statistics.mean(e[n] for e in exports) for n in exports[0]}
    values["setup_s"] = result["setup_s"]
    values["jvm.peak_live_heap_mb"] = result["jvm.peak_live_heap_mb"]
    names = PER_LAYER if a.trace else END_TO_END
    metrics = {n: {"value": values[n], "unit": u} for n, u in names.items()}
    log(f"perfbench: setup {result['setup_s']:.3f} s, {len(exports)} exports, export_s "
        f"{[round(e['export_s'], 3) for e in exports]}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
