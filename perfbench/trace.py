"""Traced-run analysis: span tree and per-layer metrics.

The traced session writes an uncompressed Spark event log and collects
Python UDF profiles (``spark.sql.pyspark.udf.profiler=perf``). After the
session stops, this module rebuilds, for every timed operation (a batch
window or a streaming epoch):

    operation -> Spark jobs -> stages -> SQL operators   (event log)
    Python kernels                                      (UDF profiler)

Jobs map to operations through the job group the benchmark sets around each
``run_ingestion`` call, or through the streaming batch id in the job
description. Between an operation and its jobs sit the SQL executions that
ran them (a streaming micro-batch execution holds the sink's nested write
executions). A job and its execution map to a pipeline leg through the
execution's plan: each write names its output directory. A stage's layer is
read from the SQL operators whose metrics it updated.

Self time of a span is its duration minus the part of it its children
cover; where sibling spans overlap, the overlap is shared equally. An
operation's own self time is the time in no execution and no job: driver
Python and query planning between queries. For an epoch, the part of it
that the trigger's bookkeeping phases (``durationMs`` outside ``addBatch``)
account for goes to ``epoch.bookkeeping``; only the rest stays ``driver``.
``trace.cover_frac`` is the share of wall time attributed to a layer other
than ``driver``.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict
from pathlib import Path

from .workloads import FIXTURE_REASONS as INVALID_REASONS

# Python kernels: (file, function) of the UDF body -> layer
KERNELS = {
    ("validate.py", "_rpit_udf"): "validate.rpit",
    ("signing.py", "_sign"): "signing",
    ("avro_codec.py", "_gen"): "avro",
}
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")


def udf_profiles(spark) -> dict[str, float]:
    """Cumulative Python seconds per kernel layer, summed over every UDF
    profile collected since the last ``clear_profiles``."""
    out: dict[str, float] = defaultdict(float)
    for stats in spark._profiler_collector._perf_profile_results.values():
        for (path, _line, func), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            layer = KERNELS.get((Path(path).name, func))
            if layer:
                out[layer] += ct
    return dict(out)


def clear_profiles(spark) -> None:
    spark._profiler_collector.clear_perf_profiles()


# ---------------------------------------------------------------- event log


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Jobs, stages and SQL plans of one application's event log."""

    def __init__(self, path: Path):
        files = sorted(
            (f for f in path.rglob("*") if f.is_file() and not f.name.startswith(".")
             and not f.name.startswith("appstatus")),
            key=lambda f: [int(x) if x.isdigit() else x for x in re.split(r"(\d+)", f.name)],
        )
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        # accumulator id -> (operator, metric, metric type), over every SQL
        # execution: a foreachBatch job's stages also update the operators
        # of the streaming micro-batch execution it runs inside
        self.nodes: dict[int, tuple[str, str, str]] = {}
        self._blocks: set[str] = set()
        self._last_job: dict | None = None
        for f in files:
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            job = {
                "id": e["Job ID"], "start": e["Submission Time"] / 1000,
                "stages": e["Stage IDs"], "props": e.get("Properties") or {},
                "cached_bytes": 0,
            }
            self.jobs[e["Job ID"]] = self._last_job = job
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            accs = {a["ID"]: (a.get("Name", ""), _num(a.get("Value")))
                    for a in info.get("Accumulables", [])}
            st = self.stages.setdefault(info["Stage ID"], {"task_records": []})
            st.update({
                "id": info["Stage ID"], "name": info.get("Stage Name", ""),
                "start": info.get("Submission Time", 0) / 1000,
                "end": info.get("Completion Time", 0) / 1000,
                "accs": accs,
                "internal": {n: v for n, v in accs.values() if n.startswith("internal.")},
            })
        elif kind == "SparkListenerBlockUpdated":
            # cached partitions, credited to the job that was running
            info = e["Block Updated Info"]
            block = info["Block ID"]
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            if block.startswith("rdd_") and size and block not in self._blocks:
                self._blocks.add(block)
                if self._last_job is not None:
                    self._last_job["cached_bytes"] += size
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            rec = (tm.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            self.stages.setdefault(e["Stage ID"], {"task_records": []})["task_records"].append(rec)
        elif kind == "SparkListenerSQLExecutionEnd":
            self.sql.setdefault(e["executionId"], {"plan": "", "nodes": {}, "trees": []})[
                "end"] = e["time"] / 1000
        elif kind in ("SparkListenerSQLExecutionStart",
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = self.sql.setdefault(e["executionId"], {"plan": "", "nodes": {}, "trees": []})
            if kind == "SparkListenerSQLExecutionStart":
                ex["id"] = e["executionId"]
                ex["root"] = e.get("rootExecutionId", e["executionId"])
                ex["start"] = e["time"] / 1000
            ex["plan"] = e.get("physicalPlanDescription", ex["plan"])
            ex["trees"].append(e["sparkPlanInfo"])
            self._walk(e["sparkPlanInfo"], ex["nodes"])
            self.nodes.update(ex["nodes"])

    @staticmethod
    def _walk(node: dict, nodes: dict) -> None:
        for m in node.get("metrics", []):
            nodes[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
        for c in node.get("children", []):
            EventLog._walk(c, nodes)

    def exec_of(self, job: dict) -> dict | None:
        x = job["props"].get("spark.sql.execution.id")
        return self.sql.get(int(x)) if x is not None else None

    def operator_metrics(self, stage: dict) -> dict[tuple[str, str], float]:
        """(operator, metric) -> value updated in this stage, with timings
        in seconds and sizes in bytes."""
        out: dict[tuple[str, str], float] = defaultdict(float)
        for acc_id, (_name, value) in stage["accs"].items():
            node = self.nodes.get(acc_id)
            if node is None:
                continue
            op, metric, kind = node
            scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(kind, 1.0)
            out[(op, metric)] += value * scale
        return out


# ------------------------------------------------------------ attribution


def share_intervals(lo: float, hi: float, children: list[tuple[float, float]]):
    """Split [lo, hi] among overlapping child intervals: returns (self time
    of the parent, attributed seconds per child)."""
    cuts = sorted({lo, hi, *[min(max(x, lo), hi) for c in children for x in c]})
    got = [0.0] * len(children)
    self_s = 0.0
    for a, b in zip(cuts, cuts[1:]):
        live = [i for i, (s, e) in enumerate(children) if s <= a and e >= b]
        if not live:
            self_s += b - a
        for i in live:
            got[i] += (b - a) / len(live)
    return self_s, got


WRITE_LEGS = ("packets", "batch_headers", "signatures", "avro_manifest")


def job_leg(ex: dict | None, stream: bool) -> str:
    """The pipeline leg a job belongs to, from its SQL plan: a write names
    its output directory; other jobs are told apart by their operators."""
    if ex is None:
        return "sources.listing"
    plan = ex["plan"]
    # the write command's Arguments line starts with its output path
    m = re.search(r"Arguments: \S*?/out/(\w+)", plan)
    if m and m.group(1) in WRITE_LEGS:
        return f"sink.{m.group(1)}" if stream else f"ingestion.{m.group(1)}_write"
    if stream:
        # the sink persists the epoch's closed turns and counts them (the
        # job that runs the stateful assembler), then aggregates lineage
        lineage = re.search(r"approx_count_distinct|HyperLogLog", plan)
        return "sink.lineage" if lineage else "assembler.persist"
    if "CollectLimit" in plan:
        return "ingestion.persist"
    if "invalid_reason" in plan:
        return "ingestion.counters"
    return "ingestion.other"


def stage_layer(ops: set[str], leg: str) -> str:
    """A stage's layer: the operator that names its work, else its job's."""
    if "MapInPandas" in ops and "avro" in leg:
        return "avro.stage"  # the container writer runs inside the write stage
    if any(o.startswith("Execute InsertIntoHadoopFsRelationCommand") or o == "WriteFiles"
           for o in ops):
        return leg
    if any("InPandasWithState" in o for o in ops):
        return "assembler.state"
    if any(o.startswith("Scan") for o in ops):
        return "sources.scan"
    if "Window" in ops:
        return "batching.exchange"
    return leg


# ----------------------------------------------------------- span tree


def build_spans(log: EventLog, ops: list[dict], stream: bool) -> list[dict]:
    """One span tree per operation. ``ops`` carry name, t0, t1 and the
    matcher key (job group for batch, batch id for stream); an epoch also
    carries ``bookkeeping_s``, its ``durationMs`` outside ``addBatch``."""
    by_op: dict[str, list[dict]] = defaultdict(list)
    for job in log.jobs.values():
        if "end" not in job:
            continue
        props = job["props"]
        if stream:
            m = re.search(r"batch = (\d+)", props.get("spark.job.description") or "")
            key = f"epoch-{m.group(1)}" if m else None
        else:
            key = props.get("spark.jobGroup.id")
        if key:
            by_op[key].append(job)
    spans = []
    for op in ops:
        jobs = sorted(by_op.get(op["op"], []), key=lambda j: j["start"])
        top: list[dict] = []
        execs: dict[int, dict] = {}
        for job in jobs:
            ex = log.exec_of(job)
            leg = job_leg(ex, stream)
            stage_spans = []
            for sid in job["stages"]:
                st = log.stages.get(sid)
                if not st or "accs" not in st or not st["end"]:
                    continue  # skipped stage (its shuffle output was reused)
                metrics = log.operator_metrics(st)
                names = {o for o, _m in metrics}
                stage_spans.append({
                    "name": f"stage-{sid}", "layer": stage_layer(names, leg),
                    "start": st["start"], "end": st["end"],
                    "run_s": st["internal"].get("internal.metrics.executorRunTime", 0) / 1000,
                    "cpu_s": st["internal"].get("internal.metrics.executorCpuTime", 0) / 1e9,
                    "task_records": st["task_records"],
                    "operators": [{"name": f"{o}: {m}", "value": v}
                                  for (o, m), v in sorted(metrics.items()) if v],
                    "_metrics": metrics,
                    "_accs": st["accs"],
                })
            parent = _exec_span(log, ex, leg, stream, execs, top) if ex else None
            (parent["children"] if parent else top).append({
                "name": f"job-{job['id']}", "kind": "job", "layer": leg,
                "start": job["start"], "end": job["end"], "children": stage_spans,
                "_exec": ex, "cached_bytes": job["cached_bytes"],
            })
        span = {"name": op["op"], "layer": "driver", "start": op["t0"], "end": op["t1"],
                "children": top}
        _self_times(span)
        # an epoch's time outside its micro-batch execution is the trigger's
        # bookkeeping, as far as its recorded phases account for it
        span["bookkeeping_s"] = min(span["self_s"], op.get("bookkeeping_s", 0.0))
        span["self_s"] -= span["bookkeeping_s"]
        spans.append(span)
    return spans


def _exec_span(log: EventLog, ex: dict, leg: str, stream: bool, execs: dict,
               top: list) -> dict | None:
    """The span of a SQL execution, created under its root execution (or
    the operation) on first use; None when the log lacks its start or end."""
    if "start" not in ex or "end" not in ex:
        return None
    if ex["id"] in execs:
        return execs[ex["id"]]
    span = {"name": f"sql-{ex['id']}", "kind": "sql", "layer": leg,
            "start": ex["start"], "end": ex["end"], "children": []}
    execs[ex["id"]] = span
    root = log.sql.get(ex["root"]) if ex["root"] != ex["id"] else None
    # a streaming micro-batch execution runs the sink's callback, whose
    # nested executions are the epoch's writes
    parent = (_exec_span(log, root, "sink.driver" if stream else job_leg(root, stream),
                         stream, execs, top) if root else None)
    (parent["children"] if parent else top).append(span)
    return span


def _self_times(span: dict) -> None:
    kids = span.get("children", [])
    self_s, got = share_intervals(span["start"], span["end"],
                                  [(k["start"], k["end"]) for k in kids])
    span["self_s"] = self_s
    for k, g in zip(kids, got):
        k["attributed_s"] = g
        if "children" in k:
            # a child's own children share only the time attributed to it
            _self_times(k)
            k["self_s"] = max(0.0, g - sum(c["attributed_s"] for c in k["children"]))
        else:
            k["self_s"] = g


def layer_self_times(span: dict) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)

    def walk(s):
        out[s["layer"]] += s["self_s"]
        for c in s.get("children", []):
            walk(c)

    if span.get("bookkeeping_s"):
        out["epoch.bookkeeping"] += span["bookkeeping_s"]

    walk(span)
    return dict(out)


def jobs_of(span: dict):
    """The job spans anywhere under ``span``."""
    for c in span.get("children", []):
        if c.get("kind") == "job":
            yield c
        elif c.get("kind") == "sql":
            yield from jobs_of(c)


def _operators(span: dict):
    for job in jobs_of(span):
        for st in job["children"]:
            yield job, st


def cover_frac(span: dict) -> float:
    """Share of an operation's wall time attributed to a layer other than
    the driver catch-all."""
    wall = max(1e-9, span["end"] - span["start"])
    return 1.0 - span["self_s"] / wall


def _metric_sum(span: dict, op_prefix: str, metric: str, leg: str | None = None) -> float:
    return sum(
        v for job, st in _operators(span) if leg is None or job["layer"] == leg
        for (o, m), v in st["_metrics"].items() if o.startswith(op_prefix) and m == metric
    )


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _dedup_exchange(ex: dict | None):
    """Accumulator ids of the exchange under the first Window operator (the
    fused dedup/window/chunk exchange) and of the Sort/Window operators
    above it."""
    if ex is None:
        return set(), set()
    ex_ids, sort_ids = set(), set()

    def find_window(n):
        if n["nodeName"] == "Window":
            collect(n)
            return True
        return any(find_window(c) for c in n.get("children", []))

    def collect(n):
        if n["nodeName"] == "Exchange":
            ex_ids.update(m["accumulatorId"] for m in n["metrics"])
            return
        if n["nodeName"] in ("Sort", "Window"):
            sort_ids.update(m["accumulatorId"] for m in n["metrics"])
        for c in n.get("children", []):
            collect(c)

    for tree in ex["trees"]:
        find_window(tree)
    return ex_ids, sort_ids


def _acc_sum(log: EventLog, span: dict, ids: set, metric: str, scale: float = 1.0) -> float:
    """Sum of one metric over the operators whose accumulator ids are given."""
    return sum(
        v * scale
        for _job, st in _operators(span)
        for acc_id, (_n, v) in st["_accs"].items()
        if acc_id in ids and log.nodes[acc_id][1] == metric
    )


# ------------------------------------------------------------- metrics


def batch_layers(log: EventLog, res: dict, profiles: dict) -> tuple[dict, list]:
    ops = res["ops"]
    spans = build_spans(log, ops, stream=False)
    n = max(1, len(ops))
    per_op = defaultdict(list)
    for op, span in zip(ops, spans):
        selfs = layer_self_times(span)
        jobs = list(jobs_of(span))
        ex_ids, sort_ids = set(), set()
        for job in jobs:
            a, b = _dedup_exchange(job["_exec"])
            ex_ids |= a
            sort_ids |= b
        scan_rows = _metric_sum(span, "Scan", "number of output rows")
        skew_stage = max(
            (st for _j, st in _operators(span) if st["layer"] == "batching.exchange"),
            key=lambda st: sum(st["task_records"]), default=None,
        )
        recs = (skew_stage or {}).get("task_records", [])
        stats = op["stats"]
        packets = int(stats.get("packets_written", 0) or 0)
        valid_in_window = op.get("valid_docs", 0)
        row = per_op  # one list per metric, one value per window
        row["ingestion.jobs"].append(len(jobs))
        row["ingestion.scan_rows_ratio"].append(scan_rows / max(1, op["scanned_rows"]))
        row["ingestion.counters_s"].append(selfs.get("ingestion.counters", 0.0))
        row["ingestion.persist_bytes"].append(sum(j["cached_bytes"] for j in jobs))
        row["ingestion.packets_write_s"].append(selfs.get("ingestion.packets_write", 0.0))
        row["ingestion.headers_write_s"].append(selfs.get("ingestion.batch_headers_write", 0.0))
        row["ingestion.signatures_write_s"].append(selfs.get("ingestion.signatures_write", 0.0))
        row["ingestion.header_digest_s"].append(
            _metric_sum(span, "ObjectHashAggregate", "time in aggregation build",
                        "ingestion.batch_headers_write")
            + _metric_sum(span, "SortAggregate", "time in aggregation build",
                          "ingestion.batch_headers_write"))
        row["ingestion.driver_s"].append(selfs.get("driver", 0.0))
        row["sources.scan_s"].append(_metric_sum(span, "Scan", "scan time"))
        row["sources.scan_rows"].append(scan_rows)
        row["sources.stage_s"].append(selfs.get("sources.scan", 0.0))
        row["batching.stage_s"].append(selfs.get("batching.exchange", 0.0))
        row["batching.exchange_s"].append(
            _acc_sum(log, span, ex_ids, "shuffle write time", 1e-9)
            + _acc_sum(log, span, ex_ids, "fetch wait time", 1e-3))
        row["batching.shuffle_bytes"].append(_acc_sum(log, span, ex_ids, "shuffle bytes written"))
        row["batching.shuffle_records"].append(_acc_sum(log, span, ex_ids, "shuffle records written"))
        row["batching.spill_bytes"].append(_acc_sum(log, span, sort_ids, "spill size"))
        row["batching.sort_s"].append(_acc_sum(log, span, sort_ids, "sort time", 1e-3))
        row["batching.partition_skew"].append(
            max(recs) / max(1.0, _median(recs)) if recs else 0.0)
        row["batching.dedup_keep_ratio"].append(packets / 2 / max(1, valid_in_window))
        row["packets.rows"].append(packets)
        avro_stages = [st for _j, st in _operators(span) if st["layer"] == "avro.stage"]
        row["avro.stage_s"].append(sum(st["attributed_s"] for st in avro_stages))
        row["avro.stage_cpu_s"].append(sum(st["cpu_s"] for st in avro_stages))
        row["avro.files"].append(op.get("avro_files", 0))
        row["avro.bytes"].append(op.get("avro_bytes", 0))
        row["signing.signatures"].append(op.get("n_signatures", 0))
        row["trace.cover_frac"].append(cover_frac(span))
    layers = {k: _mean(v) for k, v in per_op.items()}
    layers["validate.rpit_python_s"] = profiles.get("validate.rpit", 0.0) / n
    layers["signing.python_s"] = profiles.get("signing", 0.0) / n
    layers["avro.python_s"] = profiles.get("avro", 0.0) / n
    for reason in INVALID_REASONS:
        layers[f"validate.invalid_rows.{reason}"] = float(
            sum(int(op["stats"].get(reason, 0) or 0) for op in ops))
    return layers, spans


def stream_layers(log: EventLog, res: dict) -> tuple[dict, list]:
    from .stream import epoch_bounds

    prog = {pr["batchId"]: pr for pr in res["progress"]}
    measured = [prog[int(op["op"].split("-")[1])] for op in res["ops"]]
    ops = []
    for pr in measured:
        t0, t1 = epoch_bounds(pr)
        book_ms = sum(pr["durationMs"].get(ph, 0) for ph in PHASES if ph != "addBatch")
        ops.append({"op": f"epoch-{pr['batchId']}", "t0": t0, "t1": t1,
                    "bookkeeping_s": book_ms / 1000})
    spans = build_spans(log, ops, stream=True)
    data = [i for i, pr in enumerate(measured) if pr["numInputRows"] > 0]
    timer = [i for i, pr in enumerate(measured) if pr["numInputRows"] == 0]
    selfs = [layer_self_times(s) for s in spans]
    layers: dict[str, float] = {}
    layers["epoch.data_n"] = float(len(data))
    layers["epoch.timer_n"] = float(len(timer))
    for kind, idx in (("data", data), ("timer", timer)):
        for ph in PHASES:
            layers[f"epoch.{kind}.{ph}_ms"] = _median(
                measured[i]["durationMs"].get(ph, 0) for i in idx)
        layers[f"assembler.{kind}_epoch_s"] = _mean(
            selfs[i].get("assembler.state", 0.0) for i in idx)
    n = max(1, len(measured))
    # the perf profiler does not reach applyInPandasWithState kernels; the
    # operator's own Python-worker timings do
    layers["assembler.python_s"] = sum(
        _metric_sum(sp, "FlatMapGroupsInPandasWithState", "time to run Python workers")
        for sp in spans) / n
    layers["assembler.python_init_s"] = sum(
        _metric_sum(sp, "FlatMapGroupsInPandasWithState", "time to initialize Python workers")
        for sp in spans) / n
    layers["assembler.rows_in"] = float(sum(pr["numInputRows"] for pr in measured))
    state = [s for pr in measured for s in pr.get("stateOperators", [])]
    layers["state.rows_total"] = float(state[-1]["numRowsTotal"]) if state else 0.0
    layers["state.memory_bytes"] = float(max((s["memoryUsedBytes"] for s in state), default=0))
    layers["state.commit_ms"] = _median(s["commitTimeMs"] for s in state)
    layers["state.bytes_written"] = float(sum(
        s.get("customMetrics", {}).get("rocksdbTotalBytesWritten", 0) for s in state))
    layers["state.rows_removed"] = float(sum(s["numRowsRemoved"] for s in state))
    closing = [i for i, s in enumerate(spans)
               if any(j["layer"] == "sink.packets" for j in jobs_of(s))]
    layers["sink.jobs_per_epoch"] = _mean(len(list(jobs_of(s))) for s in spans)
    layers["sink.driver_s"] = _mean(sel.get("sink.driver", 0.0) for sel in selfs)
    layers["epoch.bookkeeping_s"] = _mean(sel.get("epoch.bookkeeping", 0.0) for sel in selfs)
    layers["sink.packets_write_s"] = _mean(selfs[i].get("sink.packets", 0.0) for i in closing)
    layers["sink.headers_s"] = _mean(selfs[i].get("sink.batch_headers", 0.0) for i in closing)
    layers["sink.lineage_s"] = _mean(selfs[i].get("sink.lineage", 0.0) for i in closing)
    layers["sink.cache_bytes"] = _mean(
        sum(j["cached_bytes"] for j in jobs_of(spans[i])) for i in closing)
    layers["stream.late_rows_dropped"] = float(res["late_rows_dropped"])
    layers["stream.gen_late_p95_ms"] = float(res["gen_late_p95_ms"])
    layers["stream.listener_p95_ms"] = float(res.get("listener_p95_ms") or 0.0)
    layers["trace.cover_frac"] = _mean(cover_frac(s) for s in spans)
    return layers, spans


def _strip(span: dict) -> dict:
    out = {k: v for k, v in span.items() if not k.startswith("_") and k != "task_records"}
    if "children" in span:
        out["children"] = [_strip(c) for c in span["children"]]
    return out


# name -> (unit, better, definition). Values are per timed operation (mean
# over windows or epochs) unless the definition says otherwise; a layer the
# workload does not load reports 0.
PER_LAYER = {
    "ingestion.jobs": ("count", "lower", "Spark jobs per window"),
    "ingestion.scan_rows_ratio": ("ratio", "lower", "rows read by all file scans / rows in the hour partitions the window selects"),
    "ingestion.counters_s": ("s", "lower", "self time of the invalid-counters job"),
    "ingestion.persist_bytes": ("bytes", "lower", "bytes of the cached packet fan-out"),
    "ingestion.packets_write_s": ("s", "lower", "self time of the packets write (job and its write stages)"),
    "ingestion.headers_write_s": ("s", "lower", "self time of the batch_headers write"),
    "ingestion.signatures_write_s": ("s", "lower", "self time of the signatures write"),
    "ingestion.header_digest_s": ("s", "lower", "task time of the header digest aggregate"),
    "ingestion.driver_s": ("s", "lower", "window wall time in no SQL execution and no job: driver Python and query planning between queries"),
    "sources.scan_s": ("s", "lower", "task time of the parquet scans ('scan time')"),
    "sources.scan_rows": ("rows", "lower", "rows output by the parquet scans"),
    "sources.stage_s": ("s", "lower", "self time of stages that scan input"),
    "validate.rpit_python_s": ("s", "lower", "Python time in the _rpit_udf kernel (profiler)"),
    **{f"validate.invalid_rows.{r}": ("rows", "lower", f"rows the engine counted as {r}, summed over timed windows")
       for r in INVALID_REASONS},
    "batching.stage_s": ("s", "lower", "self time of stages running the fused dedup/window/chunk operators"),
    "batching.exchange_s": ("s", "lower", "shuffle write + fetch-wait time of the fused dedup/window/chunk exchange"),
    "batching.shuffle_bytes": ("bytes", "lower", "bytes written by that exchange"),
    "batching.shuffle_records": ("rows", "lower", "records written by that exchange"),
    "batching.spill_bytes": ("bytes", "lower", "spill of the Sort/Window operators above that exchange"),
    "batching.sort_s": ("s", "lower", "sort time of the Sort operators above that exchange"),
    "batching.partition_skew": ("ratio", "lower", "max / median shuffle records read per task of the batching stage"),
    "batching.dedup_keep_ratio": ("ratio", "higher", "kept turns / valid documents stamped in the window"),
    "packets.rows": ("rows", "lower", "packets written per window (2 x kept turns)"),
    "avro.stage_s": ("s", "lower", "self time of the stage running the Avro container writer"),
    "avro.stage_cpu_s": ("s", "lower", "JVM executor CPU time of that stage"),
    "avro.python_s": ("s", "lower", "Python time in the container writer kernel (profiler)"),
    "avro.files": ("count", "lower", "container files written per window"),
    "avro.bytes": ("bytes", "lower", "container bytes written per window"),
    "signing.python_s": ("s", "lower", "Python time in the ECDSA signing kernel (profiler)"),
    "signing.signatures": ("count", "lower", "signatures written per window"),
    "assembler.data_epoch_s": ("s", "lower", "self time of the stateful-assembler stages per data epoch"),
    "assembler.timer_epoch_s": ("s", "lower", "self time of the stateful-assembler stages per zero-input (timer) epoch"),
    "assembler.python_s": ("s", "lower", "Python worker run time of the assembler per epoch (task time)"),
    "assembler.python_init_s": ("s", "lower", "Python worker initialisation time of the assembler per epoch (task time)"),
    "assembler.rows_in": ("rows", "higher", "input rows over the measured epochs"),
    "state.rows_total": ("rows", "lower", "state rows after the last measured epoch"),
    "state.memory_bytes": ("bytes", "lower", "peak state-store memory"),
    "state.commit_ms": ("ms", "lower", "median state-store commit time per epoch"),
    "state.bytes_written": ("bytes", "lower", "RocksDB bytes written over the measured epochs"),
    "state.rows_removed": ("rows", "higher", "state rows removed over the measured epochs"),
    "sink.jobs_per_epoch": ("count", "lower", "Spark jobs per epoch"),
    "sink.driver_s": ("s", "lower", "time in the micro-batch execution outside its write executions (the sink callback's driver side) per epoch"),
    "sink.packets_write_s": ("s", "lower", "self time of the packets write per closing epoch"),
    "sink.headers_s": ("s", "lower", "self time of the headers write per closing epoch"),
    "sink.lineage_s": ("s", "lower", "self time of the lineage stats job per closing epoch"),
    "sink.cache_bytes": ("bytes", "lower", "bytes of the cached closed-turn rows per closing epoch"),
    "epoch.data_n": ("count", "higher", "data epochs in the measured period"),
    "epoch.timer_n": ("count", "lower", "zero-input (timer) epochs in the measured period"),
    "epoch.bookkeeping_s": ("s", "lower", "epoch time outside its micro-batch execution, up to its durationMs outside addBatch, per epoch"),
    **{f"epoch.{k}.{ph}_ms": ("ms", "lower", f"median durationMs.{ph} of {k} epochs")
       for k in ("data", "timer") for ph in PHASES},
    "stream.late_rows_dropped": ("rows", "lower", "rows the watermark dropped (all epochs)"),
    "stream.gen_late_p95_ms": ("ms", "lower", "p95 of how late the wave renames ran against their due times"),
    "stream.listener_p95_ms": ("ms", "lower", "the engine's MetricsListener.batch_close_p95_ms (data epochs only)"),
    "trace.cover_frac": ("ratio", "higher", "share of operation wall time attributed to a layer: 1 - (time in no SQL execution, job or epoch bookkeeping phase) / wall time"),
}


def analyse(workload: str, work: Path, res: dict, profiles: dict) -> tuple[dict, list]:
    """Per-layer metrics (every name in PER_LAYER) and the span trees."""
    log = EventLog(work / "eventlog")
    if workload == "stream-open":
        layers, spans = stream_layers(log, res)
    else:
        layers, spans = batch_layers(log, res, profiles)
    metrics = {
        name: {"value": float(layers.get(name, 0.0)), "unit": unit}
        for name, (unit, _better, _doc) in PER_LAYER.items()
    }
    return metrics, [_strip(s) for s in spans]
