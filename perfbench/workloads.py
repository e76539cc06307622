"""The benchmark's workloads: set-up, measured rounds and output checks.

A run starts the Spark session once, launching its JVM, runs the
workload's own set-up and, where the workload asks for one, an untimed
warm-up round, then a fixed number of rounds set by ``--seconds``. Every
round is one unit of work a user would run: a day of ingest or one pass over
the query set. One process drives one session as a closed loop with a
single caller.
"""

from __future__ import annotations

import contextlib
import os
import sys
import tempfile
import time
from dataclasses import dataclass, field

import gen
from spans import Patches, Tracer, inclusive, self_times

from pipeline_etl_website_visits_spark import session
from pipeline_etl_website_visits_spark.etl import backup, load, pipeline, transform
from pipeline_etl_website_visits_spark.etl import schema as S
from pipeline_etl_website_visits_spark.queries import llmops
from pipeline_etl_website_visits_spark.streaming import visits_stream


@dataclass
class Round:
    """One measured unit of work."""

    wall: float
    cpu: float
    ops: list[tuple[float, float]]  # (wall, CPU) seconds per operation
    traced: bool
    rows: int
    nbytes: int
    written_bytes: int = 0
    written_files: int = 0
    progress: list[dict] = field(default_factory=list)


def timed(fn, pid: int, out: list[tuple[float, float]]):
    """``fn`` recording the (wall, CPU) seconds of every call into ``out``."""

    def wrapper(*args, **kwargs):
        c0, t0 = cpu_seconds(pid), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            out.append((time.perf_counter() - t0, cpu_seconds(pid) - c0))

    return wrapper


def _ticks(stat: str, children: bool = True) -> int:
    """utime + stime of a ``/proc/.../stat`` line, plus cutime + cstime (the
    reaped children's time) with ``children``. A thread's line repeats its
    process's cutime and cstime, so thread time is taken without them."""
    return sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15 if children else 13])


def cpu_seconds(pid: int) -> float:
    """CPU time of this process plus process ``pid`` (the JVM) and its live
    descendants (Python workers), less the JVM's JIT compiler threads: their
    work is warm-up that lands at random points of a run, not the program's."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:  # the process ended while listed
                continue
            procs[int(entry)] = (int(stat.rsplit(")", 1)[1].split()[1]), _ticks(stat))
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += procs.get(p, (0, 0))[1]
        todo += kids.get(p, [])
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "Compiler" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                total -= _ticks(f.read(), children=False)
        except OSError:  # the thread ended while listed
            continue
    t = os.times()
    return total / os.sysconf("SC_CLK_TCK") + t.user + t.system


def tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(root):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


def install_spans(tracer: Tracer) -> None:
    """Spans around the public entry points of the ETL and stream layers
    (query spans are opened by ``QuerySuite.round`` itself)."""
    for name in ("process_directory", "list_report_files", "read_header", "read_report",
                 "validate_layout_or_log"):
        tracer.wrap(pipeline, name, f"pipeline.{name}")
    tracer.wrap(pipeline, "process_file", "pipeline.process_file", new_trace=True)
    for name in ("transform_file", "with_validity_flags", "split_valid_invalid",
                 "expand_errors", "normalize_and_cast", "visitors_aggregate"):
        tracer.wrap(transform, name, f"transform.{name}")
    for name in ("append_partitioned", "merge_visitantes", "write_visitantes", "log_bitacora",
                 "log_file_events", "processed_files", "visitantes_applied"):
        tracer.wrap(load.Warehouse, name, f"load.{name}")
    tracer.wrap(backup, "archive_processed", "backup.archive_processed")
    tracer.wrap(visits_stream, "start_visits_stream", "stream.start_visits_stream")
    make_batch = visits_stream._process_micro_batch

    def traced_batch(*args, **kwargs):
        inner = make_batch(*args, **kwargs)

        def batch(df, batch_id):
            with tracer.span("stream.micro_batch", new_trace=True):
                return inner(df, batch_id)

        return batch

    tracer.patch(visits_stream, "_process_micro_batch", traced_batch)


class Workload:
    """Base: subclasses set ``profile`` and implement the hooks."""

    name = ""
    profile: dict[str, str] = {}
    java_options = ""  # added to the driver JVM's options
    warm_up = False  # run an untimed round 0 before measuring
    nominal_round_s = 10.0  # wall time of one round on a 4-core machine
    setup_repeats = 1  # set-ups per run; setup_s takes their median

    def __init__(self, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.seed = seed
        self.jvm_pid = 0  # set once the session is up
        self.op_kind = "operations"  # what one latency sample is
        self.unit_kind = "operations"  # what one attempted operation is

    def inputs(self) -> None:
        """Generate the inputs made once per run (excluded from every timing)."""

    def setup(self, spark, tracer: Tracer | None) -> None:
        """The program's own set-up before timing (timed into ``setup_s``)."""

    def round(self, spark, i: int, tracer: Tracer | None) -> Round:
        raise NotImplementedError

    def check(self, spark) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over every round run."""
        raise NotImplementedError

    def layers(self, spans, rounds: list[Round]) -> dict[str, float]:
        return {}


# -- ETL workload ---------------------------------------------------------------


class EtlDay(Workload):
    """Days of ingest into one warehouse per run. Each day the stream driver
    drains the backlog that arrived (``availableNow``, ``PER_TRIGGER`` files
    per micro-batch) and the batch driver then runs ``process_directory``
    with a backup directory over the day's report files. Set-up seeds the
    ``visitantes`` snapshot the merges run against. Day 0 is an untimed
    warm-up, so timings are not dominated by JIT and code generation; it
    also carries the planted bad-layout and header-only files, whose outputs
    are checked but whose latencies would mix two populations into
    ``op_s``. Operation latency is the batch driver's per-file commit time;
    micro-batch times are reported by the stream layer."""

    name = "etl_day"
    # C1 only: after the warm-up day the JIT compilers still spent 17-23 s of
    # CPU during the measured day, and the CPU per file swung between 3.0 and
    # 6.1 s from run to run with what had been compiled when. With C1 alone
    # the day's CPU repeated within a few percent over 5 runs on a 4-core VM.
    java_options = "-XX:TieredStopAtLevel=1"
    warm_up = True
    nominal_round_s = 20.0
    setup_repeats = 3
    POOL, SNAPSHOT, PER_TRIGGER = 200_000, 20_000, 2
    # (stream files, stream rows per file, batch files, batch rows per file)
    DAY = (2, 3000, 4, 3000)
    WARMUP_DAY = (2, 300, 1, 300)

    def __init__(self, run_dir: str, seed: int):
        super().__init__(run_dir, seed)
        self.op_kind = "batch files"
        self.unit_kind = "commit units (files and micro-batches)"
        self.root = os.path.join(run_dir, "warehouse")
        self.stream_in = os.path.join(run_dir, "stream_in")
        self.errors: list[str] = []
        self.units: list[set[str]] = []  # file names of each commit unit

    def inputs(self) -> None:
        seeded = gen.snapshot(self.seed, self.POOL, self.SNAPSHOT)
        self.snapshot = os.path.join(self.run_dir, "snapshot.parquet")
        gen.write_visitors(self.snapshot, seeded)
        self.reports = gen.Reports(self.seed, self.POOL, seeded)

    def setup(self, spark, tracer):
        load.Warehouse(spark, self.root).write_visitantes(spark.read.parquet(self.snapshot))

    def round(self, spark, i, tracer):
        n_stream, stream_rows, n_batch, batch_rows = self.WARMUP_DAY if i == 0 else self.DAY
        files = self.reports.truth.files
        known = set(files)
        self.reports.stream_backlog(self.stream_in, f"report_d{i}_s", n_stream, stream_rows,
                                    self.PER_TRIGGER)
        stream_files = sorted(set(files) - known)
        batch_in = os.path.join(self.run_dir, f"batch_in{i}")
        self.reports.batch_day(batch_in, f"report_d{i}_b", n_batch, batch_rows, planted=i == 0)
        batch_files = sorted(set(files) - known - set(stream_files))
        self.units += [set(stream_files[k:k + self.PER_TRIGGER])
                       for k in range(0, len(stream_files), self.PER_TRIGGER)]
        self.units += [{f} for f in batch_files]
        new = [files[f] for f in stream_files + batch_files]
        before = tree_size(self.root)

        ops: list[tuple[float, float]] = []
        c0, t0 = cpu_seconds(self.jvm_pid), time.perf_counter()
        q = visits_stream.start_visits_stream(
            spark, self.stream_in, self.root, os.path.join(self.run_dir, "checkpoint"),
            process_date=gen.PROCESS_DATE, max_files_per_trigger=self.PER_TRIGGER)
        q.awaitTermination()
        if q.exception() is not None:
            self.errors.append(f"stream: {q.exception()}")
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        with Patches() as p:
            p.patch(pipeline, "process_file", timed(pipeline.process_file, self.jvm_pid, ops))
            results = pipeline.process_directory(
                spark, batch_in, self.root, process_date=gen.PROCESS_DATE,
                backup_dir=os.path.join(self.run_dir, "backup"))
        wall, cpu = time.perf_counter() - t0, cpu_seconds(self.jvm_pid) - c0

        self.errors += [f"{r.filename}: {r.status}" for r in results
                        if r.status == S.STATUS_SYSTEM_FAIL]
        if os.listdir(batch_in):
            self.errors.append(f"{batch_in}: files left after archiving")
        nbytes, nfiles = tree_size(self.root)
        return Round(wall, cpu, ops, tracer is not None, sum(f.rows for f in new),
                     sum(f.nbytes for f in new), nbytes - before[0], nfiles - before[1], progress)

    def check(self, spark):
        """Compare ``bitacora``, per-file ``estadisticas``/``errores`` counts
        and every ``visitantes`` row with the generated truth."""
        import pyspark.sql.functions as F

        truth = self.reports.truth
        wh = load.Warehouse(spark, self.root)
        marks = {r["nombreArchivo"]: r for r in wh.read("bitacora").collect()}

        def per_file(table):
            df = wh.read(table)
            return {} if df is None else dict(df.groupBy("nombreArchivo").count().collect())

        stats, errs = per_file("estadisticas"), per_file("errores")
        bad = set(marks) - set(truth.files)
        for name, ft in truth.files.items():
            m = marks.get(name)
            if m is None or m["estatus"] != ft.status:
                bad.add(name)
            elif ft.status != S.STATUS_LAYOUT_FAIL and (
                    (m["registrosExitosos"], m["registrosFallidos"]) != (ft.valid, ft.errores)
                    or stats.get(name, 0) != ft.valid or errs.get(name, 0) != ft.errores):
                bad.add(name)
        expected = os.path.join(self.run_dir, "expected_visitantes.parquet")
        gen.write_visitors(expected, truth.visitors)
        cols = [f.name for f in load.VISITANTES_SCHEMA.fields]
        got = wh.read_visitantes().select(*cols)
        want = spark.read.parquet(expected).select(*[F.col(c) for c in cols])
        diff = got.exceptAll(want).count() + want.exceptAll(got).count()

        problems = list(self.errors)
        if bad:
            problems.append(f"outputs differ from the truth for files {sorted(bad)}")
        if diff:
            problems.append(f"{diff} visitantes rows differ from the truth")
        # a visitantes mismatch or a driver error cannot be pinned on one unit
        failed = len(self.units) if diff or self.errors else sum(1 for u in self.units if u & bad)
        return len(self.units), failed, problems

    def layers(self, spans, rounds):
        out = etl_layers(spans, rounds)
        traced = [r for r in rounds if r.traced]
        prog = [p for r in traced for p in r.progress]
        n = max(len(traced), 1)
        add = sum(p["durationMs"].get("addBatch", 0) for p in prog) / 1000
        trig = sum(p["durationMs"]["triggerExecution"] for p in prog) / 1000
        stream_rows = len(traced) * self.DAY[0] * self.DAY[1]
        batches = [s for s in spans if s.name == "stream.micro_batch"]
        out.update({
            "stream.batch_s": add / n,
            "stream.trigger_overhead_s": (trig - add) / n,
            "stream.rows_read_per_input_row": sum(p["numInputRows"] for p in prog) / stream_rows,
            "stream.jobs_per_batch": inclusive(spans, "jobs", batches) / max(len(batches), 1),
        })
        return out


def etl_layers(spans, rounds: list[Round]) -> dict[str, float]:
    """Per traced round: time and jobs in each ETL layer's spans."""
    traced = [r for r in rounds if r.traced]
    n = max(len(traced), 1)
    own = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def dur(*names):
        return sum(s.dur for nm in names for s in by.get(nm, [])) / n

    def jobs(*names):
        return inclusive(spans, "jobs", [s for nm in names for s in by.get(nm, [])]) / n

    files = by.get("pipeline.process_file", [])
    name_of = {s.id: s.name for s in spans}
    top_transform = [s for s in spans if s.name.startswith("transform.")
                     and not name_of.get(s.parent, "").startswith("transform.")]
    in_bytes = sum(r.nbytes for r in traced)
    return {
        "pipeline.read_header_s": dur("pipeline.read_header"),
        "pipeline.process_file_self_s": sum(own[s.id] for s in files) / n,
        "pipeline.jobs_per_file": inclusive(spans, "jobs", files) / max(len(files), 1),
        "transform.construct_s": sum(s.dur for s in top_transform) / n,
        "load.append_s": dur("load.append_partitioned"),
        "load.append_jobs": jobs("load.append_partitioned"),
        "load.merge_s": dur("load.merge_visitantes"),
        "load.merge_jobs": jobs("load.merge_visitantes"),
        "load.marker_write_s": dur("load.log_bitacora", "load.log_file_events"),
        "load.marker_read_s": dur("load.processed_files", "load.visitantes_applied"),
        "load.bytes_written_per_input_byte": sum(r.written_bytes for r in traced) / max(in_bytes, 1),
        "load.files_written": sum(r.written_files for r in traced) / n,
        "backup.archive_s": dur("backup.archive_processed"),
    }


# -- query suite ----------------------------------------------------------------

# Oracle-backed queries that build no stored artifact: the full artifact
# build alone takes longer than one run may. The set mixes execute-heavy
# queries with ones whose construction runs jobs or makes thousands of py4j
# calls.
QUERIES = (
    "q00_flagship_visitantes", "q05_error_explode", "q10_merge_upsert", "q58_star_join",
    "q63_shipping_priority", "x23_dedup_minhash_lsh", "x108_scd2_asof_lookup",
    "x123_native_recursion",
)

# The tokenized-corpus family of stored artifacts, built in this order by
# ``llmops.build_scratch_artifacts``: the token table and the two relations
# derived from it. Their cleared build takes about 2 s on a warm session.
ARTIFACT_BUILDERS = (llmops.shared_tokenized_corpus, llmops.shared_token_counts,
                     llmops.shared_doc_bigrams)


class QuerySuite(Workload):
    """Every query of ``QUERIES`` on tables generated from the seed. Set-up
    is one warm pass that checks results against DuckDB, then a cleared
    build of ``ARTIFACT_BUILDERS``; then timed passes."""

    name = "query_suite"
    nominal_round_s = 5.0
    SF = 0.01
    profile = {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": "5000",
        "spark.sql.codegen.maxFields": "300",
        "spark.locality.wait": "0ms",
    }

    def __init__(self, run_dir: str, seed: int):
        super().__init__(run_dir, seed)
        self.op_kind = "queries"
        self.unit_kind = "queries and artifact builds"
        self.data = os.path.join(run_dir, "tables")
        self.failed = 0
        self.problems: list[str] = []
        self.attempted = 0
        self.records: list[dict] = []
        self.artifact_bytes = 0

    def inputs(self) -> None:
        from tools import gen_scale_data

        with contextlib.redirect_stdout(sys.stderr):
            gen_scale_data.generate(self.SF, self.data, seed=self.seed)

    def setup(self, spark, tracer):
        """The warm pass (every query once, results checked), then the
        cleared artifact build (outputs checked)."""
        import duckdb
        import pyspark.sql.functions as F
        from tools.check_oracle import canon_rows

        from pipeline_etl_website_visits_spark.queries.registry import REGISTRY
        from pipeline_etl_website_visits_spark.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for name in QUERIES:
            spec = REGISTRY[name]
            try:
                df = spec.spark(spark, self.data)
                got = canon_rows([c.lower() for c in df.columns], [list(r) for r in df.collect()])
                res = con.execute(spec.oracle)
                want = canon_rows([d[0].lower() for d in res.description], res.fetchall())
            except Exception as e:  # noqa: BLE001 - a failing query is a failed operation
                got, want = None, repr(e)
            self._clear(spark)
            self.attempted += 1
            if got != want:
                self.failed += 1
                self.problems.append(f"{name}: result differs from the DuckDB oracle")

        llmops.clear_scratch_artifacts([self.data])
        self.attempted += 1
        try:
            with tracer.span("artifacts.build", new_trace=True) if tracer else \
                    contextlib.nullcontext():
                toks, counts, _ = [build(spark, self.data) for build in ARTIFACT_BUILDERS]
            self.artifact_bytes = sum(
                tree_size(e.path)[0] for e in os.scandir(tempfile.gettempdir())
                if e.name.startswith("spark_graft_"))
            # every document keeps its row; the counts add up to the tokens
            n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
            got = (toks.count(),
                   toks.where(F.col("toks").isNotNull()).select(F.sum(F.size("toks"))).first()[0],
                   counts.select(F.sum("cnt")).first()[0])
            if got[0] != n_docs or got[1] != got[2]:
                raise ValueError(f"(token rows, tokens, counted tokens) = {got}, "
                                 f"{n_docs} documents")
        except Exception as e:  # noqa: BLE001 - a failing build is a failed operation
            self.failed += 1
            self.problems.append(f"artifact build: {e!r}"[:300])
        con.close()

    @staticmethod
    def _clear(spark) -> None:
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            spark.catalog.clearCache()

    def round(self, spark, i, tracer):
        from pipeline_etl_website_visits_spark.queries.registry import REGISTRY

        def span(name, **attrs):
            return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()

        ops = []
        c_pass, t_pass = cpu_seconds(self.jvm_pid), time.perf_counter()
        for name in QUERIES:
            spec = REGISTRY[name]
            self.attempted += 1
            c0, t0 = cpu_seconds(self.jvm_pid), time.perf_counter()
            try:
                with span("queries.query", new_trace=True, query=name):
                    with span("queries.construct"):
                        df = spec.spark(spark, self.data)
                    with span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with span("queries.execute"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failing query is a failed operation
                self.failed += 1
                self.problems.append(f"{name}: {e!r}"[:300])
            op = (time.perf_counter() - t0, cpu_seconds(self.jvm_pid) - c0)
            ops.append(op)
            self.records.append({"round": i, "query": name, "wall_s": op[0], "cpu_s": op[1],
                                 "traced": tracer is not None})
            self._clear(spark)
        return Round(time.perf_counter() - t_pass, cpu_seconds(self.jvm_pid) - c_pass, ops,
                     tracer is not None, 0, 0)

    def check(self, spark):
        return self.attempted, self.failed, self.problems

    def layers(self, spans, rounds):
        n = max(sum(r.traced for r in rounds), 1)
        by = {}
        for s in spans:
            by.setdefault(s.name, []).append(s)

        def total(name, key=None):
            group = by.get(name, [])
            if key is None:
                return sum(s.dur for s in group) / n
            return inclusive(spans, key, group) / n

        builds = by.get("artifacts.build", [])
        return {
            "queries.construct_s": total("queries.construct"),
            "queries.construct_jobs": total("queries.construct", "jobs"),
            "queries.construct_py4j_calls": sum(s.attrs["py4j"] for s in by.get(
                "queries.construct", [])) / n,
            "queries.plan_s": total("queries.plan"),
            "queries.execute_s": total("queries.execute"),
            "queries.execute_jobs": total("queries.execute", "jobs"),
            "queries.stages": total("queries.execute", "stages"),
            "queries.tasks": total("queries.execute", "tasks"),
            # one cleared build in set-up
            "artifacts.build_s": sum(s.dur for s in builds),
            "artifacts.jobs": inclusive(spans, "jobs", builds),
            "artifacts.bytes_written": self.artifact_bytes,
        }


WORKLOADS = {w.name: w for w in (EtlDay, QuerySuite)}


def start_session(workload: Workload, local_dir: str):
    conf = {
        # a small heap keeps the run light on a shared machine
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(local_dir, "spark-warehouse"),
        # Serial GC grows the heap from its occupancy after collections, so
        # peak RSS follows the memory the work keeps live; G1 (the JVM's
        # default) grows it from pause times, which follow machine load, and
        # peak RSS then spread 10-22% of its median over 10 runs. JIT
        # compiler threads live as long as the JVM, so cpu_seconds can take
        # their time out consistently. No perf-data file in the system temp
        # directory.
        "spark.driver.extraJavaOptions": f"{workload.java_options} -XX:+UseSerialGC "
                                         f"-XX:-UseDynamicNumberOfCompilerThreads "
                                         f"-XX:-UsePerfData -Djava.io.tmpdir={local_dir} "
                                         f"-Dderby.system.home={local_dir}",
        **workload.profile,
    }
    ncpu = len(os.sched_getaffinity(0))
    spark = session.get_spark(f"perfbench-{workload.name}", master=f"local[{ncpu}]",
                              extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
