"""KG-construction benchmark: one command runs one workload and prints
every metric by name with its unit, after checking the outputs.

    python3 kgbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program from source (see
kgbench/build.py), generates the workload's inputs from --seed
(kgbench/gen.py), runs them in a fresh child JVM sized from this machine,
and prints a run-information line and then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones (see kgbench/DESIGN.md).
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout keeps only what it shipped
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest_bulk", "kg_query")
DEADLINE_S = 170  # every run ends well inside the 180 s limit

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar", "java.security.jgss/sun.security.krb5"]


def machine():
    """Cores from the affinity mask (nproc); heap from MemTotal, as the
    repository's test harness sizes SPARK_DRIVER_MEM: half of RAM in GiB,
    clamped to 2..8."""
    cores = len(os.sched_getaffinity(0))
    heap = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                heap = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, f"{heap}g"


class Child:
    """A benchmark child JVM; set-up time runs from launch to READY."""

    def __init__(self, run_dir, name, workload, cores, heap, seconds, trace,
                 deadline, checks=True):
        self.out = os.path.join(run_dir, f"{name}.json")
        self.log = os.path.join(run_dir, f"{name}.log")
        work = os.path.join(run_dir, f"{name}-work")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
                f"-XX:ActiveProcessorCount={cores}",
                f"-Djava.io.tmpdir={tmp}"]
               + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
               + ["-cp", build.classpath(), "kgbench.Child",
                  "--workload", workload, "--input", os.path.join(run_dir, "input"),
                  "--work", work, "--cores", str(cores),
                  "--seconds", str(seconds), "--trace", "1" if trace else "0",
                  "--checks", "1" if checks else "0",
                  "--out", self.out])
        with open(self.log, "w") as log:
            t0 = time.monotonic()
            self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                         stderr=log, text=True)
        try:
            for line in self.proc.stdout:
                if line.strip() == "READY":
                    break
            else:
                self.fail("exited before READY")
            self.setup_s = time.monotonic() - t0
            self.proc.wait(timeout=max(1, deadline - time.monotonic()))
            self.child_s = time.monotonic() - t0
        except subprocess.TimeoutExpired:
            self.fail("ran past the deadline")
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
        if self.proc.returncode != 0:
            self.fail(f"exit code {self.proc.returncode}")
        with open(self.out) as f:
            self.result = json.load(f)

    def fail(self, why):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        with open(self.log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"kgbench: child {why}")

    def op_seconds(self, traced):
        return [s for s, t, _ in self.result["ops"] if bool(t) == traced]

    def cached_mb(self):
        return [mb for _, t, mb in self.result["ops"] if not t]


def end_to_end(child):
    return {
        "op_s_mean": (statistics.fmean(child.op_seconds(False)), "s"),
        "setup_s": (child.setup_s, "s"),
        "cached_mb": (statistics.median(child.cached_mb()), "MB"),
    }


def per_layer(child, one_core, docs, cores):
    r = child.result
    trace = r["trace"]
    traced = child.op_seconds(True)
    untraced = child.op_seconds(False)
    m = {k: (v, unit_of(k)) for k, v in
         stats.layer_metrics(trace, len(traced)).items()}
    for k, v in r["kernels"].items():
        m[k] = (v, k.rsplit(".", 1)[1].split("_per_")[0])
    tasks = trace["tasks"]
    m["jvm.gc_s"] = (r["gc_s"] / max(len(r["ops"]), 1), "s")
    m["jvm.jit_s"] = (r["jit_setup_s"], "s")
    m["spark.spill_mb"] = (sum(t[4] for t in tasks) / 2**20 / max(len(traced), 1), "MB")
    m["spark.failed_tasks"] = (sum(t[5] for t in tasks), "count")
    cands = stats.rows_of(trace, "link.candidates")
    ents = stats.rows_of(trace, "entities")
    m["link.accept_ratio"] = (
        stats.rows_of(trace, "link.verdicts") / cands if cands else 0.0, "ratio")
    m["link.recall_vs_truth"] = (r["checks"].get("recall_vs_truth", 0.0), "ratio")
    m["canon.merge_ratio"] = (
        1 - stats.rows_of(trace, "canon.nodes") / ents if ents else 0.0, "ratio")
    m["trace.overhead_s"] = (statistics.fmean(traced) - statistics.fmean(untraced), "s")
    dps, dps1 = 0.0, 0.0
    if one_core is not None:
        dps = docs / statistics.fmean(untraced)
        dps1 = docs / statistics.fmean(one_core.op_seconds(False))
    m["scaling.docs_per_s"] = (dps, "docs/s")
    m["scaling.docs_per_s_1c"] = (dps1, "docs/s")
    m["scaling.eff"] = (dps / (cores * dps1) if dps1 else 0.0, "ratio")
    return m


def unit_of(key):
    return {"wall_s": "s", "task_s": "s", "idle_s": "s", "jobs": "count",
            "rows_out": "count", "shuffle_mb": "MB"}[key.rsplit(".", 1)[1]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # a terminated run still stops its child JVM (Child's finally clause)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build.build()
    cores, heap = machine()
    load1 = os.getloadavg()[0]
    run_dir = os.path.join(build.BUILD_DIR, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.monotonic()
        props = gen.generate(a.workload, a.seed, os.path.join(run_dir, "input"))
        gen_s = time.monotonic() - t0
        child = Child(run_dir, "child", a.workload, cores, heap, a.seconds,
                      bool(a.trace), deadline)
        one_core = None
        if a.trace and a.workload == "ingest_bulk":
            # times the checked child's corpus at one core; its own
            # checks are skipped to keep the run inside its deadline
            one_core = Child(run_dir, "child-1c", a.workload, 1, heap,
                             a.seconds / 2, False, deadline, checks=False)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    r = child.result
    ops = child.op_seconds(False)
    tl = stats.tail(ops)
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cores": cores, "heap": heap, "load1": load1,
            "calib_spin_s": r["calib_s"], "gen_s": gen_s,
            "window_s": r["window_s"], "checks_s": r["checks_s"],
            "child_s": child.child_s, "gc_s": r["gc_s"], "ops": len(r["ops"]),
            "op_s": ops, "op_s_tail": tl and {"percentile": tl[0], "value": tl[1]},
            "checks": r["checks"], "inputs": {**props, **r["props"]}}
    print("kgbench-run " + json.dumps(info, sort_keys=True))
    if a.trace:
        metrics = per_layer(child, one_core, props.get("docs", 0), cores)
    else:
        metrics = end_to_end(child)
    failed = len(r["failed_ops"])
    print(json.dumps({
        "correct": failed == 0, "attempted": len(r["ops"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
