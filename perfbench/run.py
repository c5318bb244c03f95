#!/usr/bin/env python3
"""Repository benchmark: seeded workloads of registered queries.

    python3 perfbench/run.py --workload release_pipeline --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), and runs the
harness JVM, which calls each op as `SparkEntry.queries(name)(spark,
dir)` into the `noop` sink on a `local[nproc]` session built with
`Confs.tuned` and `graft.Bench`'s confs. Every pass reads a fresh,
uniquely named copy of the inputs. Outputs of an untimed check pass
are compared with the DuckDB oracle.

With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1` it carries the per-layer metrics of the traced run.
Earlier lines print each metric with its quartiles and sample count.
Workloads and their sizes are in perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

RUN_LIMIT_S = 170
END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("cpu_s", "s"), ("heap_peak_mb", "MB")]
KERNELS = ["chem_canonical_rps", "morgan_fp_rps", "tanimoto_rps", "aho_corasick_rps",
           "compound_norm_rps", "wordgram_rps", "simhash_rps", "jaro_winkler_rps"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def machine():
    """(cores, heap GB): local[nproc], and half of RAM clamped to 2-8 GB."""
    cpus = len(os.sched_getaffinity(0))
    heap = 2
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                heap = min(8, max(2, int(line.split()[1]) // 2097152))
    return cpus, heap


def run_harness(classes, run_dir, heap_g, args, log, deadline):
    """Run the harness JVM. Its process group is killed if it is still
    running when this returns or raises (time limit, SIGTERM)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Xmx{heap_g}g", f"-Xms{heap_g}g",
        "-XX:+UseTransparentHugePages", "-XX:-UsePerfData",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))
    with open(log, "a") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf, env=env, cwd=run_dir,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness exceeded the run time limit; see {log}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        raise RuntimeError(f"harness exited with code {rc}; see {log}")


def op_wall(o):
    return (o["end"] - o["start"]) / 1e3


def end_to_end(report):
    """{metric: samples}. Per-op times pool the first and the first two
    warm passes, so their count, and the tail rank, do not depend on
    speed."""
    passes = report["passes"]
    first = passes[0]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    ops = [op_wall(o) for p in [first] + warm[:2] for o in p["ops"]]
    return {
        "setup_s": [report["setup"]["setup_s"]],
        "first_pass_s": [sum(op_wall(o) for o in first["ops"])],
        "pass_s": [sum(op_wall(o) for o in p["ops"]) for p in warm],
        "op_p50_s": ops,
        "op_tail_s": ops,
        "cpu_s": [sum(o["cpu_s"] for o in p["ops"]) for p in warm],
        "heap_peak_mb": [max(p["heap_mb"] for p in passes)],
    }


def per_layer(report, cpus):
    """{metric: value} of the traced run, and its spans."""
    spans = layers.spans_of(report)
    passes = report["passes"]
    traced_warm = [i for i, p in enumerate(passes) if p["kind"] == "warm" and p["traced"]]
    untraced_warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    rows = [layers.pass_metrics(report, spans, i, cpus) for i in traced_warm]
    m = {k: statistics.median([r[k] for r in rows]) for k in rows[0]}
    first = passes[0]["ops"]
    m["codegen.compile_s"] = sum(o["compile_ms"] for o in first) / 1e3
    m["codegen.classes"] = sum(o["compiles"] for o in first)
    m["session.build_s"] = report["setup"]["build_s"]
    m["session.warmup_s"] = report["setup"]["warmup_s"]
    for k in KERNELS:
        m[f"kernel.{k}"] = report["kernels"][k]
    pass_s = lambda ps: statistics.median([sum(op_wall(o) for o in p["ops"]) for p in ps])
    # untraced passes run before and after each traced one
    m["trace.overhead_s"] = pass_s([passes[i] for i in traced_warm]) - pass_s(untraced_warm)
    return m, spans


def unit_of(name):
    if name.startswith("kernel."):
        return "rows/s"
    if name == "stream.rows_per_s":
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if name in ("sched.core_util", "trace.coverage"):
        return "ratio"
    return "count"


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    t0 = time.time()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        raise RuntimeError(f"unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    cpus, heap_g = machine()
    before_build = time.time() - t0
    classes = build.build()
    deadline = time.time() + RUN_LIMIT_S - before_build
    run_dir = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    gen.write(input_dir, a.seed, w["scale"])
    out = os.path.join(run_dir, "report.json")
    args = {"input": input_dir, "work": os.path.join(run_dir, "work"), "ops": ",".join(w["ops"]),
            "seconds": a.seconds, "trace": a.trace, "cpus": cpus, "out": out}
    run_harness(classes, run_dir, heap_g, args, os.path.join(run_dir, "harness.log"), deadline)
    with open(out) as fh:
        report = json.load(fh)
    cache = os.path.join(build.build_dir(), "oracle")
    os.makedirs(cache, exist_ok=True)
    # digests depend on the inputs: key them on the generator and its arguments
    with open(gen.__file__, "rb") as fh:
        inputs_tag = hashlib.sha256(fh.read() + json.dumps(w["scale"], sort_keys=True).encode())
    ran = [o["name"] for p in report["passes"] if p["kind"] == "check"
           for o in p["ops"] if o["ok"]]
    bad = oracle.check(input_dir, report["check_dir"], report["oracle"], ran,
                       os.path.join(cache, f"{a.workload}-{a.seed}-{inputs_tag.hexdigest()[:16]}.json"))
    for op, why in bad.items():
        print(f"[perfbench] check failed: {op}: {why}", file=sys.stderr)
    for op, why in report["failures"].items():
        print(f"[perfbench] op failed: {op}: {why}", file=sys.stderr)
    executions = [o for p in report["passes"] for o in p["ops"]]
    attempted = len(executions)
    failed = sum(1 for o in executions if not o["ok"]) + len(bad)

    print(f"workload {a.workload} seed {a.seed}: {len(w['ops'])} ops, "
          f"{len(report['passes'])} passes, local[{cpus}], heap {heap_g}g, scale {w['scale']}")
    if a.trace == 0:
        samples = end_to_end(report)
        metrics = {}
        for name, unit in END_TO_END:
            xs = samples[name]
            if name in ("op_p50_s", "op_tail_s"):
                pct = 50 if name == "op_p50_s" else stats.tail_pct(len(xs))
                v = stats.percentile(xs, pct)
                label = f"p{pct}"
            else:
                v = statistics.median(xs)
                label = "median"
            q1, _, q3 = stats.quartiles(xs)
            metrics[name] = {"value": v, "unit": unit}
            print(f"  {name:<14} {label} {v:.4f} {unit}  q1 {q1:.4f} q3 {q3:.4f}  n={len(xs)}")
        print(f"  failed_frac    {failed / attempted:.4f} ratio  ({failed}/{attempted})")
    else:
        values, spans = per_layer(report, cpus)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(values.items())}
        for k, v in metrics.items():
            print(f"  {k:<28} {v['value']:.4f} {v['unit']}")
        trace_dir = os.path.join(build.build_dir(), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump([{k: v for k, v in s.items() if k != "m"} for s in spans], fh)
    kept = os.path.join(build.build_dir(), "reports")
    os.makedirs(kept, exist_ok=True)
    shutil.copy(os.path.join(run_dir, "report.json"),
                os.path.join(kept, f"{a.workload}-{a.seed}-trace{a.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        main(sys.argv[1:])
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(1)
