"""Crawl-loop benchmark of hydra_spark.

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run starts one Spark session sized
to the machine, makes its inputs from the seed, seeds a store, then runs
timed passes (each from a copy of the seeded store) until ``--seconds``
of timed work are done, and checks every pass's outputs.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
untraced passes, then one traced pass, and reports the per-layer metrics
(see perfbench/README.md). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

from procfs import machine_ticks, engine_cpu_s, peak_rss_kb, pss_kb, python_cpu_s, python_workers

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SEED = 1
# no new pass starts after this much wall time since the run began, so
# that on a slow machine a run ends in about a minute and all the runs of
# the benchmark stay inside their time budget
PASS_DEADLINE_S = 42.0

END_TO_END = {
    "cpu_ms_per_url": "ms/url",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["fresh_crawl", "recrawl"])
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# -- machine sizing and memory ------------------------------------------------
def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # an eighth of RAM, between 1 and 8 GiB: the inputs are small, the
    # machine may be shared, and a capped heap bounds the JVM's growth
    heap_mb = max(1024, min(8192, mem_kb // 8 // 1024))
    return {"nproc": cores, "mem_total_mb": mem_kb // 1024, "heap_mb": heap_mb}


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM and its python workers: the
    JVM's own peak (VmHWM, exact) plus the largest total, over samples
    taken every 0.2 s, of the proportional set sizes (Pss) of the python
    processes alive at that moment. Pss counts the pages a forked worker
    shares with the pyspark daemon once, and a worker that has exited
    counts no more."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.jvm_kb = 0
        self.python_kb = 0
        # when the python peak fell (seconds after start) and each
        # process's Pss then
        self.python_peak: dict = {}
        self.pids: set[int] = set()
        self._t0 = time.perf_counter()
        self._stop_evt = threading.Event()
        self._lock = threading.Lock()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            workers = python_workers(self.pid)
            jvm_kb = peak_rss_kb(self.pid)
            pss = {p: pss_kb(p) for p in workers}
            python_kb = sum(pss.values())
            with self._lock:
                self.pids.update(workers)
                self.jvm_kb = max(self.jvm_kb, jvm_kb)
                if python_kb > self.python_kb:
                    self.python_kb = python_kb
                    self.python_peak = {"at_s": round(time.perf_counter() - self._t0, 1),
                                        "pss_mb": sorted((kb // 1024 for kb in pss.values()), reverse=True)}
            self._stop_evt.wait(0.2)

    def peak_mb(self) -> dict[str, float]:
        with self._lock:
            jvm_kb = max(self.jvm_kb, peak_rss_kb(self.pid))
            return {"jvm": jvm_kb / 1024, "python": self.python_kb / 1024,
                    "total": (jvm_kb + self.python_kb) / 1024}

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


# -- Spark session ------------------------------------------------------------
def start_session(work: str, m: dict):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # python workers import hydra_spark from the checkout; every temp
    # file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # a JVM writes its perf-counter file under /tmp whatever its tmpdir;
    # this covers spark-submit's launcher JVM, the option below the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from hydra_spark.session import get_spark

    cores = m["nproc"]
    # the JIT compiler threads live as long as the JVM, so their CPU time
    # can be read per thread and kept out of cpu_ms_per_url (procfs.py)
    extra = {
        "spark.driver.memory": f"{m['heap_mb']}m",
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -XX:+UseParallelGC -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        # the traced pass reads every job of the run from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    # one shuffle partition per core: the inputs are a few MB, and every
    # extra python task costs its fixed worker CPU
    return get_spark(cores=cores, shuffle_partitions=cores, app="perfbench", extra=extra)


def stop_session(spark) -> None:
    proc = spark.sparkContext._gateway.proc
    # the python workers outlive the JVM briefly; note them while they are
    # still its descendants
    leftover = python_workers(proc.pid)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while leftover and time.time() < deadline:
        leftover = [p for p in leftover if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in leftover:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -- passes -------------------------------------------------------------------
def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_passes(spark, wl, work, seconds, t_start, reference: bool) -> dict:
    """Untraced passes until `seconds` of timed work. With `reference`
    (traced runs) the passes are the untraced side of the comparison: the
    first one's digest stands in for their output check."""
    from workloads import clone_store, store_digest

    st = {"passes": [], "attempted": 0, "failed": 0, "failures": [], "digest": None}
    jvm = spark.sparkContext._gateway.proc.pid
    timed = 0.0
    i = 0
    while True:
        store = clone_store(wl.seed_dir, os.path.join(work, f"pass-{i}"))
        try:
            py0, (cpu0, jit0) = python_cpu_s(jvm), engine_cpu_s(jvm)
            out = wl.run_pass(spark, store)
            cpu1, jit1 = engine_cpu_s(jvm)
            out.update(cpu_s=cpu1 - cpu0, jit_cpu_s=jit1 - jit0, python_cpu_s=python_cpu_s(jvm) - py0)
        except Exception:
            log(traceback.format_exc())
            st["failures"].append(f"pass {i} raised")
            st["attempted"] += 1
            st["failed"] += 1
        else:
            fails, counts = [], {}
            if not reference:
                fails, counts = wl.check(spark, store, out)
            elif st["digest"] is None:
                st["digest"] = store_digest(spark, store)
            st["attempted"] += n_units(out)
            if fails:
                st["failed"] += n_units(out)
                st["failures"] += fails
            out["counts"] = counts
            st["passes"].append(out)
            timed += out["timed_s"]
        shutil.rmtree(store.root, ignore_errors=True)
        i += 1
        if timed >= seconds or time.perf_counter() - t_start > PASS_DEADLINE_S:
            return st


def traced_pass(spark, wl, work, m) -> dict:
    """One pass from the seeded store with every layer wrapped; returns
    the tracer, the pass, its check failures, what the per-layer numbers
    need from the workload, and the store digest."""
    from spans import Tracer
    from workloads import clone_store, dir_bytes, store_digest

    store = clone_store(wl.seed_dir, os.path.join(work, "traced"))
    before = dir_bytes(store.root)
    tracer = Tracer(spark, m["nproc"])
    tracer.install()
    try:
        out = wl.run_pass(spark, store, tracer)
    finally:
        tracer.uninstall()
    fails, counts = wl.check(spark, store, out)
    units = dict(counts)
    units.update(
        urls_checked=out["urls"],
        bytes_written=dir_bytes(store.root) - before,
        timed_s=out["timed_s"] - tracer.replay_in_rounds_s,
    )
    digest = store_digest(spark, store)
    shutil.rmtree(store.root, ignore_errors=True)
    return {"tracer": tracer, "out": out, "fails": fails, "units": units, "digest": digest}


def n_units(out: dict) -> int:
    """Rounds and upserts of one pass: the unit `attempted` counts."""
    return len(out["rounds"]) + ("upsert_s" in out)


def rate(passes) -> float:
    return sum(p["urls"] for p in passes) / sum(p["timed_s"] for p in passes)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hydra_spark")):
        print(f"hydra_spark sources not found next to {os.path.dirname(__file__)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    m = machine()
    ctx = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **m,
           "loadavg_start": os.getloadavg()}
    steal0, ticks0 = machine_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    t_start = time.perf_counter()
    spark = start_session(work, m)
    ctx["session_s"] = time.perf_counter() - t_start
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    try:
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](spark, args.seed, work)
        setup_s = time.perf_counter() - t_start
        st = run_passes(spark, wl, work, args.seconds, t_start, reference=bool(args.trace))
        if not st["passes"]:
            log("every pass failed")
            return 1
        if args.trace:
            from spans import PER_LAYER, layer_metrics

            tp = traced_pass(spark, wl, work, m)
            units = tp["units"]
            metrics = layer_metrics(tp["tracer"], units)
            traced_rate = units["urls_checked"] / units["timed_s"]
            metrics["trace.rate_ratio"] = traced_rate / rate(st["passes"])
            if tp["digest"] != st["digest"]:
                tp["fails"].append(f"traced pass digest {tp['digest']} != untraced {st['digest']}")
            st["attempted"] += n_units(tp["out"])
            if tp["fails"]:
                st["failed"] += n_units(tp["out"])
                st["failures"] += tp["fails"]
            ctx["traced_digest"] = tp["digest"]
            ctx["spans"] = sorted({s["name"] for s in tp["tracer"].spans})
            result = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {
                # median over the passes: the machine's speed drifts
                # from one pass to the next
                "cpu_ms_per_url": statistics.median(1e3 * p["cpu_s"] / p["urls"] for p in st["passes"]),
                "setup_s": setup_s,
                "peak_rss_mb": sampler.peak_mb()["total"],
            }
            result = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
        steal1, ticks1 = machine_ticks()
        ctx.update(
            # wall-clock figures: printed, not gated (see perfbench/README.md)
            urls_per_s=rate(st["passes"]),
            round_s_max=statistics.median(max(p["unit_s"]) for p in st["passes"]),
            digest=st["digest"],
            passes=[{**{k: p[k] for k in ("unit_s", "timed_s", "cpu_s", "jit_cpu_s", "python_cpu_s", "urls", "counts")},
                     "round_timings": [r["timings"] for r in p["rounds"]]} for p in st["passes"]],
            failures=st["failures"],
            loadavg_end=os.getloadavg(),
            # share of the machine's CPU time the hypervisor took over the run
            steal_frac=(steal1 - steal0) / max(1, ticks1 - ticks0),
            setup_s=setup_s,
            setup_laps=wl.setup_laps,
            peak_rss_mb=sampler.peak_mb(),
            python_processes=len(sampler.pids),
            python_peak=sampler.python_peak,
        )
    finally:
        sampler.stop()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print(json.dumps({"context": ctx}))
    for k, v in result.items():
        print(f"{k:48s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not st["failures"], "attempted": st["attempted"],
                      "failed": st["failed"], "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
