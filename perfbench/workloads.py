"""The benchmark's workloads.

Each workload sets up (inputs from the seed, then a warm-up), runs
whole units of fixed work for about the requested seconds, checks the
engine's outputs, and reports the same end-to-end metrics:

- ``setup_s``: session start + median input generation (generated
  ``GEN_REPEATS`` times) + warm-up;
- ``cycle_s``: median wall time of one unit of work;
- ``rows_per_s``: input rows the units processed per second of ingest
  (landing) or query (headline) time;
- ``read_iqm_s`` / ``read_tail_s``: latency of the units' read requests
  (point lookups, or whole queries): the interquartile mean (steadier
  than the median when latencies cluster, see README.md), and the
  highest percentile with at least ten samples beyond it.

With tracing on, a traced unit runs between two untraced ones; the
per-layer numbers come from the traced unit, and its wall time minus the
mean of the untraced two is reported as tracing overhead (so a linear
warm-up drift cancels).
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

import landing
import querydata
from spans import Tracer

GEN_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "rows_per_s": "rows/s",
    "read_iqm_s": "s",
    "read_tail_s": "s",
}

# Per-layer metrics read straight off the spans of the traced unit:
# name -> (span name, field). Seconds are self time; jobs, tasks and
# bytes are charged to the innermost span that caused them.
SPAN_METRICS = {
    "plans.build_s": ("plans.build", "self_s"),
    "plans.build_jobs": ("plans.build", "jobs"),
    "plans.exec_s": ("plans.exec", "self_s"),
    "plans.exec_jobs": ("plans.exec", "jobs"),
    "plans.exec_tasks": ("plans.exec", "tasks"),
    "pipelines.ingest_s": ("pipelines.ingest", "self_s"),
    "pipelines.ingest_jobs": ("pipelines.ingest", "jobs"),
    "pipelines.empresa.file_s": ("pipelines.empresa.file", "self_s"),
    "pipelines.empresa.jobs": ("pipelines.empresa.file", "jobs"),
    "operators.dims.s": ("operators.dims", "self_s"),
    "operators.dims.jobs": ("operators.dims", "jobs"),
    "transactions.merge_upsert_s": ("transactions.merge_upsert", "self_s"),
    "transactions.merge_upsert_jobs": ("transactions.merge_upsert", "jobs"),
    "transactions.scd2_upsert_s": ("transactions.scd2_upsert", "self_s"),
    "transactions.append_s": ("transactions.append", "self_s"),
    "transactions.commit_s": ("transactions.commit", "self_s"),
    "transactions.commit_jobs": ("transactions.commit", "jobs"),
    "transactions.read_s": ("transactions.read", "self_s"),
    "dml_sql.update_s": ("dml_sql.update", "self_s"),
    "dml_sql.delete_s": ("dml_sql.delete", "self_s"),
    "dml_sql.merge_s": ("dml_sql.merge", "self_s"),
    "dml_sql.update_jobs": ("dml_sql.update", "jobs"),
    "dml_sql.delete_jobs": ("dml_sql.delete", "jobs"),
    "dml_sql.merge_jobs": ("dml_sql.merge", "jobs"),
}
# Counters recorded at the layer boundaries (see LandingTrickle).
COUNT_METRICS = {
    "sources.scan_s": "s",
    "sources.rows": "count",
    "filestats.candidate_files": "count",
    "filestats.total_files": "count",
    "dml_sql.rows_affected": "count",
    "storage.files_written": "count",
    "storage.files_hardlinked": "count",
    "storage.bytes_written": "bytes",
    "storage.bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    **{n: ("count" if f in ("jobs", "tasks") else "s")
       for n, (_, f) in SPAN_METRICS.items()},
    "plans.shuffle_write_bytes": "bytes",
    "plans.input_bytes": "bytes",
    "transactions.shuffle_write_bytes": "bytes",
    **COUNT_METRICS,
    "filestats.prune_ratio": "ratio",
    "host.canary_s": "s",
    "trace.overhead_s": "s",
}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers), reaped children included."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # ppid, then utime, stime, cutime, cstime (proc(5) fields 4, 14-17)
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def iqm(samples: list[float]) -> float:
    """Mean of the samples between the first and third quartile."""
    s = sorted(samples)
    q = len(s) // 4
    return statistics.mean(s[q : len(s) - q])


def tail(samples: list[float]) -> float:
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    return s[len(s) - 11] if len(s) > 10 else s[-1]


def digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


class Workload:
    # A run performs ceil(--seconds / UNIT_S) units, at most MAX_UNITS.
    # The count is fixed before timing starts: stopping on elapsed time
    # would give fast runs more (and faster) units than slow runs.
    UNIT_S = 10.0
    MAX_UNITS = 3

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = Tracer(spark)
        self.failures: list[str] = []
        self.attempted = 0
        self.units: list[dict] = []  # untraced units
        self.traced: dict | None = None
        self.setup_parts: dict[str, float] = {}
        self.detail: dict = {}
        self._error = ""

    def attempt(self, fn, *args):
        """Run one engine call; an exception yields None and is reported
        by the next :meth:`check`."""
        try:
            return fn(*args)
        except Exception as e:  # the engine refused or crashed
            self._error = f" ({type(e).__name__}: {e})"[:400]
            return None

    def check(self, ok: bool, what: str) -> None:
        """Count one operation or verification; record it if it failed."""
        self.attempted += 1
        if not ok:
            self.failures.append(what + self._error)
        self._error = ""

    # -- hooks ----------------------------------------------------------

    def generate(self, out_dir: str) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def unit(self) -> dict:
        """Run one unit; returns its reads, rows, busy and wall time."""
        raise NotImplementedError

    def instrument(self) -> None:
        """Wrap the layer entry points the traced unit goes through."""

    def after_traced(self) -> None:
        """Probes that need the traced unit's inputs (not timed)."""

    def verify(self) -> None:
        """Check the engine's state after the timed units."""

    # -- running a workload ---------------------------------------------

    def run(self, seconds: float, trace: bool) -> "Workload":
        gens = []
        for i in range(GEN_REPEATS):
            t0 = time.perf_counter()
            self.generate(os.path.join(self.work, f"gen{i}"))
            gens.append(time.perf_counter() - t0)
        self.setup_parts["gen_s"] = statistics.median(gens)
        t0 = time.perf_counter()
        self.warm_up()
        self.setup_parts["warm_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        if trace:
            self.units.append(self.timed_unit())
            self.instrument()
            self.tracer.active = True
            self.traced = self.timed_unit()
            self.tracer.active = False
            self.units.append(self.timed_unit())
            self.after_traced()
        else:
            n = min(self.MAX_UNITS, max(1, math.ceil(seconds / self.UNIT_S)))
            self.units = [self.timed_unit() for _ in range(n)]
        self.detail["timed_s"] = time.perf_counter() - t0
        self.verify()
        return self

    def timed_unit(self) -> dict:
        c0 = tree_cpu_s()
        out = self.unit()
        out["cpu_s"] = tree_cpu_s() - c0
        return out

    def metrics(self, session_s: float) -> dict[str, tuple[float, str]]:
        self.detail["setup_parts"] = self.setup_parts
        self.detail["unit_s"] = [u["wall_s"] for u in self.units]
        self.detail["unit_cpu_s"] = [u["cpu_s"] for u in self.units]
        if self.traced is not None:
            self.detail["traced_unit_s"] = self.traced["wall_s"]
            return self.layer_metrics()
        reads = [r for u in self.units for r in u["reads"]]
        self.detail["read_n"] = len(reads)
        values = {
            "setup_s": session_s + sum(self.setup_parts.values()),
            "cycle_s": statistics.median(self.detail["unit_s"]),
            "rows_per_s": sum(u["rows"] for u in self.units)
            / sum(u["busy_s"] for u in self.units),
            "read_iqm_s": iqm(reads),
            "read_tail_s": tail(reads),
        }
        return {n: (values[n], u) for n, u in END_TO_END.items()}

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """Every per-layer metric but the host canary (run.py adds it)."""
        spans = self.tracer.by_name()
        counts = self.tracer.counts
        values = {n: counts.get(n, 0) for n in COUNT_METRICS}
        for name, (span, field) in SPAN_METRICS.items():
            values[name] = spans[span][field] if span in spans else 0
        for layer, field in (
            ("plans", "shuffle_write_bytes"),
            ("plans", "input_bytes"),
            ("transactions", "shuffle_write_bytes"),
        ):
            values[f"{layer}.{field}"] = sum(
                v[field] for k, v in spans.items() if k.startswith(layer + ".")
            )
        total = counts.get("filestats.total_files", 0)
        values["filestats.prune_ratio"] = (
            1 - counts.get("filestats.candidate_files", 0) / total if total else 0
        )
        values["trace.overhead_s"] = self.traced["wall_s"] - statistics.mean(
            u["wall_s"] for u in self.units
        )
        return {n: (values[n], u) for n, u in PER_LAYER.items() if n in values}


class LandingTrickle(Workload):
    """Landing files of ~10^3 rows, each its own atomic commit, with point
    DML and point lookups by natural key after each file."""

    ROWS = 1000
    DML = ("update", "delete", "merge")
    LOOKUPS = 30
    WARM_UNITS = 2  # the second one lets JIT compilation settle

    def generate(self, out_dir: str) -> None:
        model = landing.LandingModel(self.seed)
        self.plan = []
        for c in range(self.WARM_UNITS + self.MAX_UNITS):
            ops = [("ingest", model.write_file(self.ROWS, out_dir, f"c{c}"))]
            ops += [("dml", verb, *model.dml(verb)) for verb in self.DML]
            ops += [("lookup", *model.lookup()) for _ in range(self.LOOKUPS)]
            self.plan.append(
                {
                    "ops": ops,
                    "expected": model.expected(),
                    "checksum": digest(model.checksum_rows()),
                    "csv_bytes": model.csv_bytes,
                }
            )

    def warm_up(self) -> None:
        from gcp_datalake_pipeline_spark.transactions import TransactionalCatalog

        self.lake = os.path.join(self.work, "lake")
        self.catalog = TransactionalCatalog(self.spark, self.lake)
        self.done = 0
        for _ in range(self.WARM_UNITS):
            self.unit()

    def unit(self) -> dict:
        from gcp_datalake_pipeline_spark.dml_sql import execute_dml
        from gcp_datalake_pipeline_spark.pipelines.runner import ingest

        tr = self.tracer
        out = {"reads": [], "rows": 0, "busy_s": 0.0, "files": []}
        start = time.perf_counter()
        for op in self.plan[self.done]["ops"]:
            t0 = time.perf_counter()
            if op[0] == "ingest":
                path = op[1]
                with tr.span("pipelines.ingest"):
                    res = self.attempt(ingest, self.catalog, [path])
                out["busy_s"] += time.perf_counter() - t0
                self.check(res is not None and len(res) == 1, f"ingest {path}")
                out["rows"] += self.ROWS
                out["files"].append(path)
                self._account_storage()
            elif op[0] == "dml":
                _, verb, sql, affected = op
                with tr.span(f"dml_sql.{verb}"):
                    res = self.attempt(execute_dml, self.catalog, sql)
                got = sum(
                    v for k, v in (res or {}).items()
                    if k in ("updated", "deleted", "merge_updated",
                             "merge_inserted", "merge_deleted")
                )
                self.check(got == affected, f"{sql}: {got} rows affected, expected {affected}")
                tr.count("dml_sql.rows_affected", got)
                self._account_storage()
            else:
                _, key, expected = op
                with tr.span("transactions.read"):
                    rows = self.attempt(
                        lambda: self.catalog.read("empresa", predicates=[("carrier_bp", "=", key)])
                        .select("carrier_name")
                        .collect()
                    )
                out["reads"].append(time.perf_counter() - t0)
                got = [tuple(r) for r in rows or []]
                self.check(got == [(expected,)], f"lookup {key}: {got}, expected {expected!r}")
        out["wall_s"] = time.perf_counter() - start
        self.done += 1
        return out

    def instrument(self) -> None:
        from gcp_datalake_pipeline_spark import filestats
        from gcp_datalake_pipeline_spark.pipelines import empresa, runner
        from gcp_datalake_pipeline_spark.transactions import TransactionalCatalog

        tr = self.tracer
        tr.wrap(runner._PROCESSORS, "empresa", "pipelines.empresa.file")
        tr.wrap(empresa, "get_or_create_dim", "operators.dims")
        tr.wrap(empresa, "resolve_dim_id", "operators.dims")
        for meth in ("merge_upsert", "scd2_upsert", "append", "commit"):
            tr.wrap(TransactionalCatalog, meth, f"transactions.{meth}")
        prune = filestats.prune_files_dnf

        def counted(stats, all_files, dnf):
            kept = prune(stats, all_files, dnf)
            tr.count("filestats.candidate_files", len(kept))
            tr.count("filestats.total_files", len(all_files))
            return kept

        filestats.prune_files_dnf = counted
        # storage baseline: every data file the untraced units left
        self._paths = set()
        self._inodes = set()
        for path, ino, _size in _data_files(self.lake):
            self._paths.add(path)
            self._inodes.add(ino)
        self._commits = 0

    def _account_storage(self) -> None:
        """After a commit: data files newly written vs hardlinked from an
        earlier version (an inode already seen), and bytes written."""
        if not self.tracer.active:
            return
        for path, ino, size in _data_files(self.lake):
            if path in self._paths:
                continue
            self._paths.add(path)
            if ino in self._inodes:
                self.tracer.count("storage.files_hardlinked")
            else:
                self._inodes.add(ino)
                self.tracer.count("storage.files_written")
                self.tracer.count("storage.bytes_written", size)
        self._commits += 1

    def after_traced(self) -> None:
        from gcp_datalake_pipeline_spark.schemas import EMPRESA_CSV_SCHEMA
        from gcp_datalake_pipeline_spark.sources.csv_bronze import read_bronze_csv

        counts = self.tracer.counts
        for k in ("storage.files_written", "storage.files_hardlinked", "storage.bytes_written"):
            counts[k] = counts.get(k, 0) / max(self._commits, 1)  # per commit
        for path in self.traced["files"]:
            t0 = time.perf_counter()
            counts["sources.rows"] += read_bronze_csv(self.spark, path, EMPRESA_CSV_SCHEMA).count()
            counts["sources.scan_s"] += time.perf_counter() - t0
        on_disk = sum({ino: size for _, ino, size in _all_files(self.lake)}.values())
        counts["storage.bytes_per_input_byte"] = (
            on_disk / self.plan[self.done - 1]["csv_bytes"]
        )

    def verify(self) -> None:
        step = self.plan[self.done - 1]
        for table, want in sorted(step["expected"].items()):
            got = self.attempt(lambda: self.catalog.read(table).count())
            self.check(got == want, f"{table}: {got} rows, expected {want}")
        rows = self.attempt(
            lambda: self.catalog.read("empresa").select("carrier_bp", "carrier_name").collect()
        )
        self.check(
            digest([tuple(r) for r in rows or []]) == step["checksum"],
            "final-state checksum of empresa",
        )


def _all_files(root: str):
    """(path, inode, size) of every file under ``root``."""
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            yield p, (st.st_dev, st.st_ino), st.st_size


def _data_files(root: str):
    return ((p, i, s) for p, i, s in _all_files(root) if p.endswith(".parquet"))


class HeadlineQueries(Workload):
    """The 25 headline queries over a seeded dataset, noop sink, warm
    passes. Read-only: no catalog, no commits."""

    UNIT_S = 12.0

    def generate(self, out_dir: str) -> None:
        self.table_rows = querydata.write(self.seed, out_dir)
        self.data = out_dir

    def warm_up(self) -> None:
        """The cold pass: each query is checked once against its DuckDB
        oracle, which also warms the session for the timed passes."""
        from gcp_datalake_pipeline_spark.plans import QUERIES
        from gcp_datalake_pipeline_spark.plans.compare import (
            compare_query,
            duckdb_connection,
        )

        con = duckdb_connection(self.data)
        self.input_rows = 0  # rows of the tables each query reads, summed
        for name in querydata.HEADLINE:
            q = QUERIES[name]
            df = self.attempt(q.fn, self.spark, self.data)
            if df is not None:
                self.input_rows += sum(
                    self.table_rows[os.path.basename(f).removesuffix(".parquet")]
                    for f in df.inputFiles()
                )
            res = None
            if df is not None:
                res = self.attempt(compare_query, self.spark, con, name, df, q.oracle)
            self.check(bool(res and res.ok), f"oracle {name}: {res and res.detail}")
        con.close()

    def unit(self) -> dict:
        from gcp_datalake_pipeline_spark.plans import QUERIES

        tr = self.tracer
        reads = []
        start = time.perf_counter()
        for name in querydata.HEADLINE:
            t0 = time.perf_counter()
            with tr.span("plans.build"):
                df = self.attempt(QUERIES[name].fn, self.spark, self.data)
            with tr.span("plans.exec"):
                ok = df is not None and self.attempt(
                    lambda: df.write.mode("overwrite").format("noop").save() or True
                )
            reads.append(time.perf_counter() - t0)
            self.check(bool(ok), f"run {name}")
        wall = time.perf_counter() - start
        self.detail.setdefault("query_s", []).append(dict(zip(querydata.HEADLINE, reads)))
        return {"reads": reads, "rows": self.input_rows, "busy_s": wall, "wall_s": wall}


WORKLOADS = {
    "landing_trickle": LandingTrickle,
    "headline_queries": HeadlineQueries,
}
