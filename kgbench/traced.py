"""Per-layer metrics of one traced pass, from its spans and Spark's metrics."""

from __future__ import annotations

from .sparkmetrics import MB, SpanMetrics
from .spans import Tracer

_PY = "MapInArrow"


def _ids(tr: Tracer, root: int, *names: str) -> list[int]:
    return [s.id for s in tr.subtree(root) if s.name in names]


def _duration(tr: Tracer, ids: list[int]) -> float:
    return sum(tr.spans[i].duration for i in ids)


def _python(sm: SpanMetrics, ids, prefix: str) -> dict:
    return {
        f"{prefix}.python_total_s":
            sm.sql_sum(ids, _PY, "time to run Python workers"),
        f"{prefix}.arrow_sent_mb":
            sm.sql_sum(ids, _PY, "data sent to Python workers") / MB,
        f"{prefix}.arrow_received_mb":
            sm.sql_sum(ids, _PY, "data returned from Python workers") / MB,
    }


def pass_metrics(workload: str, tr: Tracer, sm: SpanMetrics, root: int,
                 counters: dict) -> dict:
    """Layer metrics of the traced pass rooted at span ``root``."""
    every = [s.id for s in tr.subtree(root)]
    stages = sm.stage_list(every)
    run_s = sm.stage_sum(every, "executorRunTime") / 1e3
    cpu_s = sm.stage_sum(every, "executorCpuTime") / 1e9
    m = {
        "scan.mb_read": sm.stage_sum(every, "inputBytes") / MB,
        "scan.tasks": float(sum(s["numTasks"] for s in stages
                                if s["inputBytes"] > 0)),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.gc_s": sm.stage_sum(every, "jvmGcTime") / 1e3,
        "spark.cpu_over_run": cpu_s / run_s if run_s else 0.0,
        "spark.tasks": float(sum(s["numTasks"] for s in stages)),
    }
    if workload == "construct":
        ext = _ids(tr, root, "extract")
        m.update(_python(sm, ext, "extract"))
        m["extract.udf_overhead_s"] = (
            sm.stage_sum(ext, "executorRunTime") / 1e3
            - m["extract.python_total_s"])
        m["extract.task_skew"] = sm.skew(sm.stage_list(ext),
                                         "executorRunTime")
    elif workload == "link":
        dedup = _ids(tr, root, "dedup")
        link = _ids(tr, root, "linking.dictionary", "linking.encode")
        mat = _ids(tr, root, "materialize")
        write = "Execute InsertIntoHadoopFsRelationCommand"
        rows_in, rows_out = counters["dedup.rows_in"], counters["dedup.rows_out"]
        m.update({
            "dedup.rows_in": float(rows_in),
            "dedup.rows_out": float(rows_out),
            "dedup.useful_ratio": rows_out / rows_in,
            "dedup.shuffle_write_mb":
                sm.stage_sum(dedup, "shuffleWriteBytes") / MB,
            "dedup.s": _duration(tr, dedup),
            "linking.terms": float(counters["linking.terms"]),
            "linking.dictionary_s":
                _duration(tr, _ids(tr, root, "linking.dictionary")),
            "linking.encode_s": _duration(tr, _ids(tr, root, "linking.encode")),
            "linking.broadcast_mb":
                sm.sql_sum(link, "BroadcastExchange", "data size") / MB,
            "linking.shuffle_write_mb":
                sm.stage_sum(link, "shuffleWriteBytes") / MB,
            "linking.fetch_wait_s":
                sm.stage_sum(link, "shuffleFetchWaitTime") / 1e3,
            "linking.reducer_skew": sm.skew(
                [s for s in sm.stage_list(link) if s["shuffleReadBytes"] > 0],
                "shuffleReadMetrics.readBytes"),
            "linking.spill_mb": sm.stage_sum(link, "diskBytesSpilled") / MB,
            "materialize.s": _duration(tr, mat),
            "materialize.files":
                sm.sql_sum(mat, write, "number of written files"),
            "materialize.mb_written":
                sm.sql_sum(mat, write, "written output") / MB,
            "materialize.rows":
                sm.sql_sum(mat, write, "number of output rows"),
            "materialize.commit_s":
                sm.sql_sum(mat, write, "job commit time")
                + sm.sql_sum(mat, write, "task commit time"),
        })
    elif workload == "export":
        ser = _ids(tr, root, "serialize")
        m.update(_python(sm, ser, "serialize"))
        m.update({
            "serialize.shuffle_write_mb":
                sm.stage_sum(ser, "shuffleWriteBytes") / MB,
            "serialize.sort_s": sm.sql_sum(ser, "Sort", "sort time"),
            "serialize.spill_mb": sm.sql_sum(ser, "Sort", "spill size") / MB,
            "serialize.s": _duration(tr, ser),
        })
    return m


def setup_metrics(tr: Tracer, sm: SpanMetrics, span_names) -> dict:
    ids = [s.id for s in tr.spans if s.name in span_names]
    return {
        "extract.python_boot_s":
            sm.sql_sum(ids, _PY, "time to start Python workers"),
        "extract.python_init_s":
            sm.sql_sum(ids, _PY, "time to initialize Python workers"),
    }
