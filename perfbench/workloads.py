"""The benchmark workloads.

A workload makes its inputs from the seed (``make_inputs``, before any
Spark session exists), computes its expected answers (``prepare``,
outside the timed region), and lists its operations. One pass runs
every operation once; an operation runs as timed phases, each a
``Recorder.span`` so a traced run can attribute Spark jobs to it, and
returns None or the reason its output is wrong.

Every pass reads the inputs through a fresh directory of symlinks, so
the engine's per-path scenario memos start cold on every repetition
without touching the package's private state.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow.parquet as pq

import check
import gen

# The lakehouse audits run by ``lakehouse_maint``: one Delta MERGE and
# one clustered OPTIMIZE. The other headline audits each overrun the
# per-run time budget on their own (README.md, "Sizing").
LAKEHOUSE_SET = [
    "lakehouse_merge_parity",
    "delta_liquid_clustering_audit",
]

# etl_daily: days of fresh postings with a share of re-scraped repeats,
# then one replay day.
ETL_DAYS = 3
ETL_PER_DAY = 2000
ETL_REPEAT_SHARE = 0.2


@dataclass
class Op:
    name: str
    input_rows: int = 0
    input_bytes: int = 0
    day: int = 0  # etl_daily: index into the day batches


class Workload:
    """Shared pass-directory handling; subclasses fill in the rest."""

    name = ""
    rows_out = 0  # rows the last operation returned or wrote

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.ops: list[Op] = []

    def pass_dir(self, p: int) -> str:
        d = os.path.join(self.work, "passes", f"p{p}")
        if not os.path.isdir(d):
            gen.link_inputs(self.inputs, d)
        return d

    def group(self, op: str, p: int, phase: str) -> str:
        return f"{op}|{p}|{phase}"

    def layer_counts(self, op: Op, p: int) -> dict:
        return {}


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                pass
    return files, size


class Lakehouse(Workload):
    """Delta audits over the seeded fixture tables, each building its
    tables, commits and maintenance from scratch on every pass; checked
    against the DuckDB oracle and the audit row's own pass flags."""

    name = "lakehouse_maint"
    names = LAKEHOUSE_SET

    def make_inputs(self) -> None:
        self.table_rows = gen.write_fixtures(self.inputs, self.seed)
        self.table_bytes = {
            t: os.path.getsize(os.path.join(self.inputs, f"{t}.parquet"))
            for t in self.table_rows
        }
        self.ops = [Op(n) for n in self.names]

    def prepare(self, spark, rec) -> None:
        import duckdb

        from jobminer_spark import ORACLES

        self.spark, self.rec = spark, rec
        given = {}
        con = duckdb.connect()
        for t in self.table_rows:
            path = os.path.join(self.inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for op in self.ops:
            if op.name in ORACLES:
                res = con.execute(ORACLES[op.name])
                given[op.name] = ([c[0] for c in res.description], res.fetchall())
        con.close()
        self.expected = check.Expected(given)

    def tables_read(self, op: Op, tables: set[str]) -> None:
        op.input_rows = sum(self.table_rows[t] for t in tables)
        op.input_bytes = sum(self.table_bytes[t] for t in tables)

    def run(self, op: Op, p: int) -> str | None:
        import tempfile

        from jobminer_spark import QUERIES

        self.rows_out = 0
        self.written = (0, 0)
        before = _tree_size(tempfile.gettempdir())
        d = self.pass_dir(p)
        with self.rec.span("build", self.group(op.name, p, "build"), op=op.name, p=p, phase="build"):
            df = QUERIES[op.name](self.spark, d)
        with self.rec.span("collect", self.group(op.name, p, "collect"), op=op.name, p=p, phase="collect"):
            rows = df.collect()
        self.rows_out = len(rows)
        after = _tree_size(tempfile.gettempdir())
        self.written = (after[0] - before[0], after[1] - before[1])
        return self.expected.check(op.name, df.columns, rows) or check.flag_failures(
            op.name, df.columns, rows
        )

    def layer_counts(self, op: Op, p: int) -> dict:
        return {"lake_files": self.written[0], "lake_bytes": self.written[1]}


class EtlDaily(Workload):
    """The paper's pipeline, day by day, into a parquet sink: each day
    is ``run_pipeline`` against the sink's read-back followed by
    ``sinks.write_parquet`` of the new listings and their skills."""

    name = "etl_daily"

    def make_inputs(self) -> None:
        self.days = gen.posting_days(self.seed, ETL_DAYS, ETL_PER_DAY, ETL_REPEAT_SHARE)
        for i, day in enumerate(self.days):
            d = os.path.join(self.inputs, f"day{i}")
            gen.write_postings(d, day["rows"])
            day["bytes"] = os.path.getsize(os.path.join(d, "documents.parquet"))
        self.ops = [
            Op(
                f"day{i}" if i < len(self.days) - 1 else "replay",
                input_rows=len(day["rows"]),
                input_bytes=day["bytes"],
                day=i,
            )
            for i, day in enumerate(self.days)
        ]

    def prepare(self, spark, rec) -> None:
        self.spark, self.rec = spark, rec

    def _sink(self, p: int, table: str) -> str:
        return os.path.join(self.work, "sink", f"p{p}", table)

    def _existing(self, p: int):
        path = self._sink(p, "listings")
        if not os.path.isdir(path):
            return self.spark.range(0).selectExpr(
                "CAST(id AS STRING) AS job_id", "CAST(id AS STRING) AS source"
            )
        return self.spark.read.parquet(path).select("job_id", "source")

    def run(self, op: Op, p: int) -> str | None:
        from jobminer_spark import pipeline, sinks

        self.rows_out = 0
        self.written = dict.fromkeys(("skill_rows", "new_rows", "files", "bytes"), 0)
        d = os.path.join(self.pass_dir(p), f"day{op.day}")
        before = {t: _sink_stats(self._sink(p, t)) for t in ("listings", "skills")}
        with self.rec.span("build", self.group(op.name, p, "build"), op=op.name, p=p, phase="build"):
            existing = self._existing(p)
            jobs, skills = pipeline.run_pipeline(self.spark, d, existing_jobs=existing)
        with self.rec.span("sink", self.group(op.name, p, "sink"), op=op.name, p=p, phase="sink"):
            sinks.write_parquet(jobs, self._sink(p, "listings"))
            sinks.write_parquet(skills, self._sink(p, "skills"))
        after = {t: _sink_stats(self._sink(p, t)) for t in ("listings", "skills")}
        new = after["listings"][0] - before["listings"][0]
        skill_rows = after["skills"][0] - before["skills"][0]
        self.written = {
            "skill_rows": skill_rows,
            "new_rows": new,
            "files": sum(after[t][1] - before[t][1] for t in after),
            "bytes": sum(after[t][2] - before[t][2] for t in after),
        }
        self.rows_out = new + skill_rows
        err = check.day_failure(op.name, new, skill_rows, self.days[op.day])
        if err is None and self.rec.traced:
            self._probe_layers(op, p, d, existing)
        return err

    def _probe_layers(self, op: Op, p: int, d: str, existing) -> None:
        """Traced run only: time the pipeline's layers one at a time on
        materialised inputs (parse from the raw batch; upsert and skill
        mining from checkpointed parse output), outside the op's time."""
        from jobminer_spark import pipeline
        from jobminer_spark.operators.dedupe import upsert_new_keys

        def run(name, df):
            with self.rec.span(name, self.group(op.name, p, name), op=op.name, p=p, phase=name):
                df.write.format("noop").mode("overwrite").save()

        docs = self.spark.read.parquet(os.path.join(d, "documents.parquet"))
        parsed = pipeline.parse_listings(pipeline.documents_as_job_postings(docs))
        run("probe_parse", parsed)
        parsed = parsed.localCheckpoint()
        new = upsert_new_keys(parsed, existing, ["job_id", "source"])
        run("probe_upsert", new)
        run("probe_mine_skills", pipeline.mine_skills(new.localCheckpoint(), self.spark))

    def layer_counts(self, op: Op, p: int) -> dict:
        w = self.written
        return {
            "sink_rows": self.rows_out,
            "skill_rows": w["skill_rows"],
            "new_rows": w["new_rows"],
            "offered_rows": op.input_rows,
            "sink_files": w["files"],
            "sink_bytes": w["bytes"],
        }


def _sink_stats(path: str) -> tuple[int, int, int]:
    """(rows, files, bytes) of the parquet part files under ``path``,
    from their footers: no Spark job."""
    rows = files = size = 0
    if os.path.isdir(path):
        for n in os.listdir(path):
            if n.endswith(".parquet"):
                f = os.path.join(path, n)
                rows += pq.read_metadata(f).num_rows
                files += 1
                size += os.path.getsize(f)
    return rows, files, size


WORKLOADS = {w.name: w for w in (EtlDaily, Lakehouse)}
