"""Per-layer metrics of a traced run.

Every figure is per pass (the sum over that pass's operations) and the
reported value is the median over the timed passes; job, stage and
task counts repeat exactly from pass to pass. Times of a phase are its
self time: a build span's time excludes the ``load_table`` calls inside
it, which are reported as the source layer. Layers a workload does not
use read 0.
"""

from __future__ import annotations

import statistics

TIMED_PHASES = ("build", "collect", "sink", "source")


def per_layer(spans, counts, wl, load_s, spark_s, pass_times, pass_jit, bytes_by_job) -> dict:
    passes = sorted({c["p"] for c in counts})
    per: dict[int, dict[str, float]] = {p: {} for p in passes}

    def add(p, key, v):
        per[p][key] = per[p].get(key, 0) + v

    by_id = {s["id"]: s for s in spans}
    child_time: dict[int, float] = {}
    for s in spans:
        par = by_id.get(s["parent"])
        if par is not None:
            child_time[par["id"]] = child_time.get(par["id"], 0.0) + s["end"] - s["start"]
    for s in spans:
        ph, p = s.get("phase"), s.get("p")
        if p not in per:
            continue
        self_time = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
        add(p, f"{ph}_s", self_time)
        add(p, f"{ph}_calls", 1)
        add(p, f"{ph}_jobs", s.get("jobs", 0))
        if ph in TIMED_PHASES:
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                add(p, k, s.get(k, 0))
            if ph != "source":  # a build span's CPU already covers its loads
                add(p, "cpu", s.get("cpu", 0.0))
            for jid in s.get("job_ids", ()):
                b = bytes_by_job.get(jid, {})
                for k in ("shuffle_read", "shuffle_write", "spill"):
                    add(p, k, b.get(k, 0))
    in_bytes = {op.name: op.input_bytes for op in wl.ops}
    for c in counts:
        p = c["p"]
        add(p, "input_bytes", in_bytes[c["op"]])
        for k, v in c.items():
            if k not in ("op", "p", "ok"):
                add(p, k, v)

    def med(key):
        return statistics.median(per[p].get(key, 0) for p in passes)

    def ratio(num, den):
        return statistics.median(
            per[p].get(num, 0) / per[p][den] if per[p].get(den) else 0.0 for p in passes
        )

    stable = all(len(set(v)) == 1 for v in build_jobs_by_op(spans).values())
    return {
        "session.get_spark_s": (statistics.median(spark_s), "s"),
        "session.first_get_spark_s": (spark_s[0], "s"),
        "registry.load_all_operators_s": (statistics.median(load_s), "s"),
        "sources.load_table_s": (med("source_s"), "s"),
        "sources.load_table_jobs": (ratio("source_jobs", "source_calls"), "count"),
        "operators.build_s": (med("build_s"), "s"),
        "operators.build_jobs": (med("build_jobs"), "count"),
        "operators.build_jobs_stable": (1 if stable else 0, "bool"),
        "spark.collect_s": (med("collect_s"), "s"),
        "spark.collect_jobs": (med("collect_jobs"), "count"),
        "spark.jobs": (med("jobs"), "count"),
        "spark.stages": (med("stages"), "count"),
        "spark.tasks": (med("tasks"), "count"),
        "spark.failed_tasks": (med("failed_tasks"), "count"),
        "process.cpu_s": (med("cpu"), "s"),
        "jvm.jit_cpu_s": (statistics.median(pass_jit), "s"),
        "spark.rows_out": (med("rows_out"), "count"),
        "spark.shuffle_read_bytes": (med("shuffle_read"), "B"),
        "spark.shuffle_write_bytes": (med("shuffle_write"), "B"),
        "spark.spill_bytes": (med("spill"), "B"),
        "pipeline.parse_s": (med("probe_parse_s"), "s"),
        "pipeline.mine_skills_s": (med("probe_mine_skills_s"), "s"),
        "pipeline.skill_rows": (med("skill_rows"), "count"),
        "operators.dedupe.upsert_s": (med("probe_upsert_s"), "s"),
        "operators.dedupe.new_ratio": (ratio("new_rows", "offered_rows"), "ratio"),
        "sinks.write_parquet_s": (med("sink_s"), "s"),
        "sinks.rows_written": (med("sink_rows"), "count"),
        "sinks.bytes_per_input_byte": (ratio("sink_bytes", "input_bytes"), "ratio"),
        "sinks.files_written": (med("sink_files"), "count"),
        "lakehouse.bytes_written": (med("lake_bytes"), "B"),
        "lakehouse.bytes_per_input_byte": (ratio("lake_bytes", "input_bytes"), "ratio"),
        "lakehouse.files_written": (med("lake_files"), "count"),
        "trace.wall_s": (statistics.median(pass_times), "s"),
    }


def build_jobs_by_op(spans) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for s in spans:
        if s.get("phase") == "build" and s.get("p", 0) > 0:
            out.setdefault(s["op"], []).append(s.get("jobs", 0))
    return out
