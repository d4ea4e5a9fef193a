"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload roster_full --seed 1 --seconds 1 --trace 0

Builds graft and the benchmark from source (``build.py``), generates the
workload's inputs from the seed (``gen.py``), then runs one JVM with one
SparkSession at ``local[N]``, N = nproc. The JVM runs a cold iteration,
then warm iterations for ``--seconds`` (with ``--trace 1``, half of them
traced); it reads every published output back and digests it. The last
line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of ``BENCHMARK.json`` (``--trace 0``) or every per-layer metric
(``--trace 1``). A human-readable summary, the host context and the input
shares go to standard error and to ``.bench_work/results/``.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# The program's own run configuration (build.sbt's javaOptions): the
# default collector (G1), the heap from $SPARK_DRIVER_MEM, the UI off, UTC
# sessions and the module opens Spark 4 needs on JDK 17. Two differences:
# the heap is fixed at HEAP (initial = max) unless $SPARK_DRIVER_MEM is
# set, because a heap that G1 resizes made peak_rss_mb spread 25% between
# seeds; and -XX:-UsePerfData keeps the JVM from writing its perf-data
# file outside the checkout.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "3g")
JVM_OPTS = [
    "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]

# a run ends within this many seconds, not counting the build
RUN_BUDGET_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def timed_out(progress, started, peak_mb):
    """The result of a JVM stopped at the deadline: every iteration counts
    as failed, and the times it did not finish are lower bounds."""
    now = time.time()
    p = {}
    if os.path.exists(progress):
        with open(progress) as f:
            p = json.load(f)
    since = p.get("running_since_ms", 0)
    running_s = now - since / 1000.0 if since else 0.0
    done = {s["it"]: s["s"] for s in p.get("samples", [])}
    warm = [t for i, t in done.items() if i > 0] or [running_s]
    cold = done.get(0, running_s)
    triggers = p.get("trigger_ms") or [w * 1000.0 for w in warm]
    attempted = max(1, p.get("attempted", 0))
    return {
        "setup_s": p.get("session_s", now - started) + cold,
        "run_s": statistics.median(warm), "run_samples": len(warm),
        "trigger_ms_p50": statistics.median(triggers),
        "trigger_ms_p90": statistics.quantiles(triggers, n=10, method="inclusive")[-1]
        if len(triggers) > 1 else triggers[0],
        "trigger_samples": len(triggers), "peak_rss_mb": peak_mb, "layers": {},
        "attempted": attempted, "failed": attempted,
        "digest": "timed out", "jvm": None, "spark": None, "max_heap_mb": None,
    }


def jvm(classes, work, args, deadline):
    """Run the benchmark JVM until `deadline`; return its result object."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    progress = os.path.join(work, "progress.json")
    logf = os.path.join(work, "jvm.log")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                                  "-cp", cp, "perfbench.Main", "--result", result,
                                  "--progress", progress] + args)
    started = time.time()
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            peak = vm_hwm_mb(proc.pid)
            proc.kill()
            proc.wait()
            log(f"the JVM did not finish within the run's budget of {RUN_BUDGET_S} s; "
                "every iteration counts as failed")
            return timed_out(progress, started, peak)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(logf, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="N for local[N]; default nproc")
    ap.add_argument("--scale", default="full", choices=sorted(gen.SIZES))
    ap.add_argument("--min-warm", type=int, default=1, help="run at least this many warm iterations")
    o = ap.parse_args()
    started = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if o.workload not in gen.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {o.workload}")
    nproc = os.cpu_count() or 1
    cores = o.cores or nproc
    if cores > nproc:
        raise SystemExit(f"perfbench: N={cores} exceeds nproc={nproc}")

    t = time.time()
    classes = build.build()
    deadline = started + (time.time() - t) + RUN_BUDGET_S
    tag = f"{o.workload}-{o.scale}-seed{o.seed}-trace{o.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results_dir = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results_dir, exist_ok=True)
    try:
        t = time.time()
        truth = gen.generate(o.workload, o.seed, os.path.join(work, "inputs"), o.scale)
        log(f"inputs for {o.workload} seed {o.seed} generated in {time.time() - t:.2f}s")
        load_before = loadavg()
        res = jvm(classes, work, [
            "--workload", o.workload, "--inputs", os.path.join(work, "inputs"), "--work", work,
            "--cores", str(cores), "--truth-rows", str(truth.get("rows", -1)),
            "--seconds", str(o.seconds), "--trace", str(o.trace), "--min-warm", str(o.min_warm),
            "--spans", os.path.join(results_dir, f"{tag}.spans.jsonl")], deadline)
        load_after = loadavg()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(HERE, "expected.json")) as f:
        want = json.load(f).get(o.workload, {}).get(o.scale, {}).get(str(o.seed))
    digest_ok = want is None or want == res["digest"]
    if not digest_ok:
        log(f"digest {res['digest']} differs from the committed {want}")
    attempted = int(res["attempted"])
    failed = attempted if not digest_ok else int(res["failed"])
    if o.trace:
        # a layer the workload never calls reads 0
        layers = dict(res["layers"], fail_frac=failed / attempted)
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    report = {
        "workload": o.workload, "seed": o.seed, "trace": o.trace, "scale": o.scale,
        "host": {"nproc": nproc, "N": cores, "loadavg_before": load_before,
                 "loadavg_after": load_after, "jvm": res["jvm"], "spark": res["spark"],
                 "max_heap_mb": res["max_heap_mb"]},
        "input_shares": truth["shares"], "digest": res["digest"], "expected_digest": want,
        "fail_frac": failed / attempted, "run_s_samples": res["run_samples"],
        # counts that should repeat for a fixed plan (NOTES.md: how far they do)
        "repeatable_counts": ["jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes"],
        "trigger_samples": res["trigger_samples"], "result": res,
    }
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, ensure_ascii=False)
    for name, m in metrics.items():
        print(f"{name} = {m['value']} {m['unit']}", file=sys.stderr)
    log(f"host {json.dumps(report['host'])}")
    log(f"input shares {json.dumps(truth['shares'], ensure_ascii=False)}")
    log(f"fail_frac = {failed / attempted:.6g} frac ({failed}/{attempted}); "
        f"run_s over {res['run_samples']} samples, trigger over {res['trigger_samples']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
