"""Span tracing of the crawl and catalog layers, from outside the package.

The tracer patches the layers' public functions inside this process only
and restores them afterwards. Every wrapper records a span (name, start,
end, parent span, thread) and tags the Spark jobs started inside it with
the span through the thread-local job-group property, so the jobs the
round's write pool starts are attributed too.

Lazy layers (functions that only build a plan) finish in microseconds and
run inside the round's big jobs. Their wrappers keep the call's
arguments and result; after each round the tracer forces the result
``fn(*args)`` and every DataFrame argument with a ``noop`` write and
reports the output's time minus the inputs' time as the layer's
``replay_s``. It is a difference of two timings, so a layer that costs
little next to its inputs can read slightly below zero.

After the traced section the tracer reads Spark's in-process status
stores (they work with the UI off): per-stage task, CPU and GC time,
shuffle bytes and spill for the jobs of each span, and the SQL operator
metrics of the python operators (worker start time, bytes sent and
returned).

The python layers' own work is the CPU time of the python worker
processes over their span, from /proc. Spark's "time to run Python
workers" timer is not used for it: it also runs while a worker waits for
its upstream input, so it tracks the JVM side of the job as much as the
python side.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from procfs import python_cpu_s

_GROUP = "spark.jobGroup.id"
_PREFIX = "perfbench-"

# Lazy layers: (metric prefix, module path, attribute). The attribute is
# looked up where run_round / upsert_catalog resolve it at call time.
LAZY_LAYERS = [
    ("crawl.select_batch", "hydra_spark.crawl.round", "select_batch"),
    ("crawl.backoff", "hydra_spark.crawl.round", "domain_backoff"),
    ("crawl.backoff", "hydra_spark.crawl.round", "split_backoff"),
    ("crawl.robots", "hydra_spark.crawl.robots", "split_robots_rfc"),
    ("crawl.fetch", "hydra_spark.crawl.round", "simulate_fetch"),
    ("crawl.change", "hydra_spark.crawl.round", "detect_changes"),
    ("analysis.ingest", "hydra_spark.crawl.round", "process_fetched"),
    ("seen.check", "hydra_spark.seen", "BloomSeenSet.check"),
    ("seen.update", "hydra_spark.seen", "BloomSeenSet.update"),
]

# Pooled round writes: AppendLog directory name -> span name.
POOLED_WRITES = {
    "outputs": "storage.outputs.append",
    "checks": "storage.checks.append",
    "frontier_delta": "storage.frontier.append_delta",
    "tables_index": "storage.tables_index.append",
    "metrics": "storage.metrics.append",
    "outbox": "storage.outbox.append",
}

# Spans over which the python workers' CPU time is taken: the analysis
# pass runs inside the outputs write, the Bloom probe and update inside
# the upsert. Nothing else runs python while either span is open.
PYTHON_SPANS = ("storage.outputs.append", "catalog.upsert")

# Top spans whose Spark jobs get the spark.<span>.* numbers.
SPARK_GROUPS = {
    "analyse": ("storage.outputs.append",),
    "writes": tuple(v for k, v in POOLED_WRITES.items() if k != "outputs"),
    "compact": ("storage.compact", "storage.fold_latest_checks"),
    "upsert": ("catalog.upsert",),
}


_S, _N, _B, _F = "s", "count", "B", "frac"
PER_LAYER = {
    "crawl.round.self_s": _S, "crawl.round.spark_jobs": _N,
    "crawl.select_batch.replay_s": _S, "crawl.select_batch.rows": _N,
    "crawl.backoff.replay_s": _S, "crawl.backoff.held_rows": _N, "crawl.backoff.held_frac": _F,
    "crawl.robots.replay_s": _S, "crawl.robots.blocked_rows": _N,
    "crawl.fetch.replay_s": _S, "crawl.fetch.rows": _N,
    "crawl.change.replay_s": _S, "crawl.change.unchanged_frac": _F,
    "analysis.ingest.python_worker_s": _S, "analysis.ingest.python_start_s": _S,
    "analysis.ingest.bytes_to_python": _B, "analysis.ingest.bytes_from_python": _B,
    "analysis.ingest.rows_to_python": _N, "analysis.ingest.python_lane_frac": _F,
    "analysis.ingest.files_parsed": _N, "analysis.ingest.parse_errors": _N,
    "analysis.ingest.us_per_url": "us", "analysis.ingest.us_per_file": "us", "analysis.ingest.tables_per_s": "tables/s",
    **{f"{name}_s": _S for name in POOLED_WRITES.values()},
    "storage.writes_overlap": "ratio", "storage.compact_s": _S,
    "storage.fold_latest_checks_s": _S, "storage.frontier.commit_s": _S,
    "storage.bytes_written": _B, "storage.bytes_per_checked_url": "B/url",
    "seen.check.replay_s": _S, "seen.update.replay_s": _S, "seen.python_worker_s": _S,
    "seen.definitely_new_frac": _F, "seen.false_positive_frac": _F,
    "catalog.upsert_s": _S, "catalog.rows_in": _N, "catalog.rows_inserted": _N,
    "catalog.rows_updated": _N, "catalog.rows_deleted": _N,
    **{f"spark.{g}.{k}": u for g in SPARK_GROUPS for k, u in (
        ("task_s", _S), ("cpu_s", _S), ("gc_s", _S), ("shuffle_write_bytes", _B),
        ("spill_bytes", _B), ("failed_tasks", _N), ("core_busy_frac", _F))},
    "trace.task_frac_in_layers": _F, "trace.rate_ratio": "ratio",
}


def _resolve(module: str, attr: str):
    owner = importlib.import_module(module)
    *path, name = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, name


def _noop(df: DataFrame, observe: dict | None = None) -> tuple[float, dict]:
    """Force `df` with a noop write; returns (seconds, observed counters)."""
    obs = None
    if observe:
        obs = Observation()
        df = df.observe(obs, *[expr.alias(k) for k, expr in observe.items()])
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return dt, (obs.get if obs is not None else {})


class Tracer:
    """Spans, job tags and lazy-layer replays of one traced section:
    `install()` patches the layers, `uninstall()` restores them."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.jvm_pid = self.sc._gateway.proc.pid
        self.spans: list[dict] = []
        self.replays: list[dict] = []
        self._captured: list[tuple] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.first_job = self._job_count()
        self.last_job = None
        # replays run inside run_crawl's wall time; the traced pass
        # subtracts them from its timed seconds
        self.replay_in_rounds_s = 0.0

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # pool threads start with an empty stack: their parent is the
        # span the main thread is inside (the round that owns the pool)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "thread": threading.current_thread().name, "start": None, "end": None}
            self.spans.append(rec)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"{_PREFIX}{sid}")
        stack.append(sid)
        cpu0 = python_cpu_s(self.jvm_pid) if name in PYTHON_SPANS else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if cpu0 is not None:
                rec["python_cpu_s"] = python_cpu_s(self.jvm_pid) - cpu0
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    # -- patching -----------------------------------------------------------
    def _patch(self, owner, name: str, wrapper) -> None:
        orig = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
        self._patches.append((owner, name, orig))
        setattr(owner, name, wrapper(orig))

    def install(self) -> None:
        import hydra_spark.crawl.loop as loop
        from hydra_spark.storage import AppendLog, FrontierTable, SnapshotTable, StateStore

        tracer = self

        def eager(name_of):
            def wrap(orig):
                @functools.wraps(orig)
                def w(*a, **k):
                    with tracer.span(name_of(*a)):
                        return orig(*a, **k)
                return w
            return wrap

        def base(table) -> str:
            return table.dir.rstrip("/").rsplit("/", 1)[-1]

        self._patch(AppendLog, "append",
                    eager(lambda log, *a: POOLED_WRITES.get(base(log), f"storage.{base(log)}.append")))
        self._patch(SnapshotTable, "commit", eager(lambda t, *a: f"storage.{base(t)}.commit"))
        self._patch(FrontierTable, "commit", eager(lambda *a: "storage.frontier.commit"))
        self._patch(FrontierTable, "compact", eager(lambda *a: "storage.compact"))
        self._patch(StateStore, "fold_latest_checks", eager(lambda *a: "storage.fold_latest_checks"))

        for layer, module, attr in LAZY_LAYERS:
            owner, name = _resolve(module, attr)

            def lazy(orig, layer=layer, fn_name=name):
                @functools.wraps(orig)
                def w(*a, **k):
                    with tracer.span(f"{layer}.plan"):
                        out = orig(*a, **k)
                    tracer._captured.append((layer, fn_name, orig, a, k, out))
                    return out
                return w

            self._patch(owner, name, lazy)

        def round_wrap(orig):
            @functools.wraps(orig)
            def w(*a, **k):
                with tracer.span("crawl.round"):
                    out = orig(*a, **k)
                tracer.replay_in_rounds_s += tracer.replay()
                return out
            return w

        self._patch(loop, "run_round", round_wrap)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()
        self.last_job = self._job_count()

    # -- replay of lazy layers ---------------------------------------------
    def replay(self, extra_counters: dict | None = None) -> float:
        """Force every captured lazy call; returns the seconds it took.

        A frame one layer returns is often the next layer's argument
        (the claim feeds the politeness split, whose output feeds the
        robots split and the fetch): each frame is forced once and its
        time reused."""
        t0 = time.perf_counter()
        captured, self._captured = self._captured, []
        forced: dict[int, tuple[DataFrame, float]] = {}

        def force(df, observe=None, same_as=None):
            key = id(same_as if same_as is not None else df)
            if key not in forced or observe:
                dt, got = _noop(df, observe)
                forced[key] = (same_as if same_as is not None else df, dt)
                return dt, got
            return forced[key][1], {}

        for layer, fn_name, orig, a, k, out in captured:
            with self.span(f"replay.{layer}"):
                self.replays.append(self._replay_one(
                    layer, fn_name, orig, a, k, out, force, extra_counters or {}))
        return time.perf_counter() - t0

    @staticmethod
    def _replay_one(layer, fn_name, orig, a, k, out, force, extra_counters) -> dict:
        inputs = [x for x in (*a, *k.values()) if isinstance(x, DataFrame)]
        rec = {"layer": layer, "fn": fn_name, "outputs": []}
        if fn_name == "process_fetched":
            # the python pass itself is timed by the outputs write; only
            # its input is forced here, to count what crosses into python
            _, got = force(inputs[0], {"rows": F.count(F.lit(1)),
                                       "payload_rows": F.count("html")})
            rec["outputs"].append(got)
            rec["replay_s"] = 0.0
            return rec
        t_in = sum(force(df)[0] for df in inputs)
        # a fresh plan of the call: the round may have left its result
        # cached; timings are stored under the round's own frames, which
        # later layers receive as arguments
        def frames(x):
            return x if isinstance(x, tuple) else (x,)

        outs = [(df, mine) for df, mine in zip(frames(orig(*a, **k)), frames(out)) if df is not None]
        t_out = 0.0
        for df, mine in outs:
            observe = {"rows": F.count(F.lit(1))}
            if "change_status" in df.columns:
                observe["unchanged"] = F.count(F.when(F.col("change_status") == "unchanged", 1))
            if "seen" in df.columns:
                observe["not_seen"] = F.count(F.when(~F.col("seen"), 1))
                for name, cond in extra_counters.items():
                    observe[name] = F.count(F.when(cond, 1))
            dt, got = force(df, observe, same_as=mine)
            t_out += dt
            rec["outputs"].append(got)
        # each output recomputes every input (none is cached after the round)
        rec["replay_s"] = t_out - len(outs) * t_in
        return rec

    # -- Spark status stores --------------------------------------------------
    def _status(self):
        return self.sc._jsc.sc().statusStore()

    def _job_count(self) -> int:
        """Highest job id the status store knows (after the listener
        bus has delivered every event so far)."""
        self._drain_listeners()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        return max([j.jobId() for j in conv.asJava(self._status().jobsList(None))], default=-1)

    def _drain_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def spark_jobs(self) -> dict[int, int | None]:
        """job id -> span id (None for untagged jobs) of the traced section."""
        self._drain_listeners()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        out = {}
        for j in conv.asJava(self._status().jobsList(None)):
            if not self.first_job < j.jobId() <= self.last_job:
                continue
            g = j.jobGroup()
            tag = g.get() if g.isDefined() else ""
            out[j.jobId()] = int(tag[len(_PREFIX):]) if tag.startswith(_PREFIX) else None
        return out

    def stage_totals(self, job_ids) -> dict:
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        st = self._status()
        stage_ids = set()
        for j in job_ids:
            stage_ids.update(conv.asJava(st.job(j).stageIds()))
        tot = dict.fromkeys(("task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                             "spill_bytes", "failed_tasks"), 0.0)
        for sid in stage_ids:
            s = st.lastStageAttempt(sid)
            tot["task_s"] += s.executorRunTime() / 1e3
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["failed_tasks"] += s.numFailedTasks()
        return tot

    def python_metrics(self, job_ids) -> dict:
        """Sum of the python operators' SQL metrics over the SQL
        executions that ran any of `job_ids`."""
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        sq = self.spark._jsparkSession.sharedState().statusStore()
        want = set(job_ids)
        keys = {
            "time to start Python workers": "python_start_s",
            "data sent to Python workers": "bytes_to_python",
            "data returned from Python workers": "bytes_from_python",
        }
        tot = dict.fromkeys(keys.values(), 0.0)
        for e in conv.asJava(sq.executionsList()):
            if not want.intersection(int(j) for j in conv.asJava(e.jobs()).keySet()):
                continue
            eid = e.executionId()
            values = conv.asJava(sq.executionMetrics(eid))
            for node in conv.asJava(sq.planGraph(eid).allNodes()):
                if "InPandas" not in node.name() and "InArrow" not in node.name():
                    continue
                for m in conv.asJava(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if m.name() in keys and v is not None:
                        tot[keys[m.name()]] += parse_sql_metric(v)
        return tot


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n10.5 s (2.4 s, ...)' or '10,000' -> number
    in seconds / bytes / count."""
    line = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(line[0].replace(",", ""))
    return value * _UNITS[line[1]] if len(line) > 1 else value


def _union(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def layer_metrics(tr: Tracer, units: dict) -> dict[str, float]:
    """Per-layer numbers of one traced section. `units` holds what the
    workload counted itself: urls_checked, files_parsed, parse_errors,
    bytes_written, timed_s and the catalog row counts."""
    spans = [s for s in tr.spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}

    def top(sid):
        while sid is not None and by_id[sid]["parent"] is not None:
            sid = by_id[sid]["parent"]
        return sid

    def under(sid, names) -> bool:
        while sid is not None:
            if by_id[sid]["name"] in names:
                return True
            sid = by_id[sid]["parent"]
        return False

    def dur(name) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def python_cpu(name) -> float:
        return sum(s.get("python_cpu_s", 0.0) for s in spans if s["name"] == name)

    jobs = tr.spark_jobs()
    live = {j: s for j, s in jobs.items() if s is None or not by_id[top(s)]["name"].startswith("replay.")}
    rounds = [s for s in spans if s["name"] == "crawl.round"]
    m: dict[str, float] = {}

    # crawl.round: self time = round span minus the union of its children
    self_s = 0.0
    for r in rounds:
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == r["id"]]
        self_s += (r["end"] - r["start"]) - _union(kids)
    m["crawl.round.self_s"] = self_s
    round_jobs = [j for j, s in live.items() if s is not None and under(s, {"crawl.round"})]
    m["crawl.round.spark_jobs"] = len(round_jobs) / len(rounds) if rounds else 0.0

    rep: dict[str, list[dict]] = {}
    for r in tr.replays:
        rep.setdefault(r["layer"], []).append(r)

    def rsum(layer):
        return sum(r["replay_s"] for r in rep.get(layer, []))

    def out_count(layer, fn, idx, key="rows"):
        return sum(r["outputs"][idx].get(key, 0) for r in rep.get(layer, [])
                   if r["fn"] == fn and len(r["outputs"]) > idx)

    m["crawl.select_batch.replay_s"] = rsum("crawl.select_batch")
    m["crawl.select_batch.rows"] = out_count("crawl.select_batch", "select_batch", 0)
    m["crawl.backoff.replay_s"] = rsum("crawl.backoff")
    go = out_count("crawl.backoff", "split_backoff", 0)
    held = out_count("crawl.backoff", "split_backoff", 1)
    m["crawl.backoff.held_rows"] = held
    m["crawl.backoff.held_frac"] = held / (go + held) if go + held else 0.0
    m["crawl.robots.replay_s"] = rsum("crawl.robots")
    m["crawl.robots.blocked_rows"] = out_count("crawl.robots", "split_robots_rfc", 1)
    m["crawl.fetch.replay_s"] = rsum("crawl.fetch")
    fetched = out_count("crawl.fetch", "simulate_fetch", 0)
    m["crawl.fetch.rows"] = fetched
    m["crawl.change.replay_s"] = rsum("crawl.change")
    changed_rows = out_count("crawl.change", "detect_changes", 0)
    unchanged = out_count("crawl.change", "detect_changes", 0, "unchanged")
    m["crawl.change.unchanged_frac"] = unchanged / changed_rows if changed_rows else 0.0

    analyse_jobs = [j for j, s in live.items() if s is not None and under(s, {"storage.outputs.append"})]
    py = tr.python_metrics(analyse_jobs)
    files = units.get("files_parsed", 0)
    urls = units.get("urls_checked", 0)
    py_cpu = python_cpu("storage.outputs.append")
    m["analysis.ingest.python_worker_s"] = py_cpu
    m["analysis.ingest.python_start_s"] = py["python_start_s"]
    m["analysis.ingest.bytes_to_python"] = py["bytes_to_python"]
    m["analysis.ingest.bytes_from_python"] = py["bytes_from_python"]
    m["analysis.ingest.rows_to_python"] = out_count("analysis.ingest", "process_fetched", 0)
    payload = out_count("analysis.ingest", "process_fetched", 0, "payload_rows")
    m["analysis.ingest.python_lane_frac"] = payload / fetched if fetched else 0.0
    m["analysis.ingest.files_parsed"] = files
    m["analysis.ingest.parse_errors"] = units.get("parse_errors", 0)
    m["analysis.ingest.us_per_url"] = py_cpu * 1e6 / urls if urls else 0.0
    m["analysis.ingest.us_per_file"] = py_cpu * 1e6 / files if files else 0.0
    m["analysis.ingest.tables_per_s"] = files / units["timed_s"] if units.get("timed_s") else 0.0

    for name in POOLED_WRITES.values():
        m[f"{name}_s"] = dur(name)
    pooled = set(SPARK_GROUPS["writes"])
    summed = union = 0.0
    for r in rounds:
        iv = [(s["start"], s["end"]) for s in spans if s["name"] in pooled and s["parent"] == r["id"]]
        summed += sum(e - s for s, e in iv)
        union += _union(iv)
    m["storage.writes_overlap"] = summed / union if union else 0.0
    m["storage.compact_s"] = dur("storage.compact")
    m["storage.fold_latest_checks_s"] = dur("storage.fold_latest_checks")
    m["storage.frontier.commit_s"] = dur("storage.frontier.commit")
    m["storage.bytes_written"] = units.get("bytes_written", 0)
    m["storage.bytes_per_checked_url"] = units.get("bytes_written", 0) / urls if urls else 0.0

    m["seen.check.replay_s"] = rsum("seen.check")
    m["seen.update.replay_s"] = rsum("seen.update")
    m["seen.python_worker_s"] = python_cpu("catalog.upsert")
    probed = out_count("seen.check", "check", 0)
    m["seen.definitely_new_frac"] = (
        out_count("seen.check", "check", 0, "not_seen") / probed if probed else 0.0)
    truly_new = out_count("seen.check", "check", 0, "truly_new")
    m["seen.false_positive_frac"] = (
        out_count("seen.check", "check", 0, "false_positive") / truly_new if truly_new else 0.0)

    m["catalog.upsert_s"] = dur("catalog.upsert")
    for k in ("rows_in", "rows_inserted", "rows_updated", "rows_deleted"):
        m[f"catalog.{k}"] = units.get(k, 0)

    for group, names in SPARK_GROUPS.items():
        gspans = [s for s in spans if s["name"] in names]
        gjobs = [j for j, s in live.items() if s is not None and under(s, set(names))]
        tot = tr.stage_totals(gjobs)
        wall = _union([(s["start"], s["end"]) for s in gspans])
        for k, v in tot.items():
            m[f"spark.{group}.{k}"] = v
        m[f"spark.{group}.core_busy_frac"] = tot["task_s"] / (wall * tr.cores) if wall else 0.0

    # share of executor task time that a layer span (not the bare round
    # or an untagged job) accounts for
    all_task = tr.stage_totals(list(live))["task_s"]
    in_layer = [j for j, s in live.items() if s is not None and by_id[s]["name"] != "crawl.round"]
    m["trace.task_frac_in_layers"] = tr.stage_totals(in_layer)["task_s"] / all_task if all_task else 0.0
    return m
