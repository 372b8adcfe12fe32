"""The benchmark workloads.

Each workload prepares seeded inputs, runs the package the way it
ships with every output materialised, checks the outputs against the
DuckDB oracle, and, in a traced run, splits one operation into the
package's layers. An *operation* is one run of the job; per-layer
figures use the same unit, apart from the streaming layer's, which are
per micro-batch of a short stream the flagship's traced run drains.

Layer self times come from noop-sink prefixes of an output job: the
time to materialise scan, then scan+parse, and so on, each prefix minus
the one before it; the job's sink time is the traced write minus its
last prefix. A prefix that several output jobs recompute is counted
once per job (both dedup queries scan the documents); the flagship's
counts write, which recomputes scan..route for the columns it needs, is
reported whole as ``connectors.count_s``. So the self times plus the
reported unattributed time add up to the traced operation.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import env
import gen
import oracle
import tracing as tr

ROUTES = list(oracle.ROUTES)
TRACE_REPS = 3


@dataclass
class Measurement:
    latencies_s: list[float] = field(default_factory=list)  # successful ops
    rows: int = 0  # input rows of the successful ops
    attempted: int = 0
    failed: int = 0
    sink_bytes: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, bad: list[str]) -> None:
        self.attempted += 1
        if bad:
            self.failed += 1
            self.errors += bad


def data_bytes(path: str) -> int:
    """Bytes of the parquet data files under a directory."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _error(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:500]


@contextlib.contextmanager
def _nospan(name: str):
    yield None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def job_counters(t: tr.Tracer, jobs: list[dict], rows: int, ops: int = 1) -> dict:
    """Per-operation counters of the Spark jobs of ``ops`` operations over
    ``rows`` input rows, from the stage and SQL metrics in Spark's status
    store."""
    st = t.stage_totals(jobs)
    ex = t.executions(jobs)
    # file scans; the lookup tables' in-memory scans add a few dozen rows
    # per job
    scan_rows = tr.sql_metric(ex, tr.SCAN_NODES, "number of output rows")
    return {
        "sources.bytes_read": tr.sql_metric(ex, "Scan parquet", "size of files read", tr.size_bytes) / ops,
        "sources.rows_read_per_row": scan_rows / rows if rows else 0.0,  # per input row
        "sinks.files_written": tr.sql_metric(ex, "Execute InsertIntoHadoopFsRelationCommand", "number of written files") / ops,
        "sinks.bytes_written": st["outputBytes"] / ops,
        "session.jobs_per_run": st["jobs"] / ops,
        "session.tasks_per_run": st["tasks"] / ops,
        "training.shuffle_bytes": st["shuffleWriteBytes"] / ops,
        "training.spill_bytes": (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / ops,
    }


def plan_counts(plans: list[str]) -> dict:
    return {
        "operators.python_eval_nodes": tr.count_nodes(plans, tr.PYTHON_NODES),
        "connectors.exchanges": tr.count_nodes(plans, tr.EXCHANGE_NODES),
        "processors.broadcast_joins": tr.count_nodes(plans, tr.BROADCAST_JOINS),
    }


def sink_facts(con, sinks: str) -> dict:
    """Row facts read back from a routed sink directory."""
    rows = oracle.sink_counts(con, sinks)
    errors, unmatched = con.execute(
        f"SELECT count(*) FILTER (WHERE level IS NULL), "
        f"count(*) FILTER (WHERE tool_category IS NULL OR role_group IS NULL) "
        f"FROM read_parquet('{sinks}/**/*.parquet')"
    ).fetchone()
    out = {f"connectors.rows_{r}": rows.get(r, 0) for r in ROUTES}
    out["operators.parse_error_rows"] = errors
    out["processors.unmatched_rows"] = unmatched
    return out


class Workload:
    name = ""

    def __init__(self, spark, con, work: str, seed: int, cores: int):
        self.spark, self.con, self.work = spark, con, work
        self.seed, self.cores = seed, cores
        self.checked = Measurement()  # operations run and checked while tracing

    def prepare(self, input_dir: str) -> None:
        """Generate the seeded inputs and hand them to the package."""
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def build_oracle(self) -> dict:
        """Compute the expected outputs; returns the input properties."""
        raise NotImplementedError

    def measure(self, seconds: float) -> Measurement:
        raise NotImplementedError

    def trace(self, t: tr.Tracer) -> dict[str, float]:
        raise NotImplementedError

    def _out(self, label: str) -> str:
        path = os.path.join(self.work, "out", label)
        shutil.rmtree(path, ignore_errors=True)
        return path


class BatchWorkload(Workload):
    """A job run repeatedly over the same inputs; each run is checked."""

    min_ops = 3
    warm_ops = 2
    rows_per_op = 0

    def op(self, out: str, collector: bool = True, spans: tr.Tracer | None = None) -> None:
        raise NotImplementedError

    def check(self, out: str) -> list[str]:
        raise NotImplementedError

    def run_op(self, out: str, spans: tr.Tracer | None = None, **kw) -> tuple[float, list[str]]:
        """One checked operation: (seconds, mismatches or the error). The
        seconds cover the operation alone; with ``spans`` its Spark jobs
        carry the tag of a ``job`` span."""
        span = spans.span if spans else _nospan
        t0 = time.perf_counter()
        try:
            with span("job"):
                self.op(out, spans=spans, **kw)
        except Exception as exc:  # a failed operation is counted, not fatal
            return time.perf_counter() - t0, [_error(exc)]
        dt = time.perf_counter() - t0
        return dt, self.check(out)

    def warm_up(self) -> None:
        # the first run takes 2-3x as long as later ones (class loading,
        # JIT); after two, latency is within about 15% of its later level
        # and falls slowly on, which the median over the measured runs
        # absorbs.
        # A failing operation is not fatal here: the measured runs count it.
        self.warm_latencies_s = []
        for i in range(self.warm_ops):
            out = self._out(f"warm-up-{i}")
            self.warm_latencies_s.append(self.run_op(out)[0])
            shutil.rmtree(out, ignore_errors=True)

    def checked_op(self, label: str, keep: bool = False, **kw) -> float:
        out = self._out(label)
        dt, bad = self.run_op(out, **kw)
        self.checked.record(bad)
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        return dt

    def measure(self, seconds: float) -> Measurement:
        m = Measurement()
        deadline = time.perf_counter() + seconds
        while m.attempted < self.min_ops or time.perf_counter() < deadline:
            out = self._out(f"op-{m.attempted}")
            dt, bad = self.run_op(out)
            m.record(bad)
            if not bad:
                m.latencies_s.append(dt)
                m.rows += self.rows_per_op
                m.sink_bytes += data_bytes(out)
            shutil.rmtree(out, ignore_errors=True)
        return m


# --- flagship_batch ---------------------------------------------------------

class FlagshipBatch(BatchWorkload):
    """SnapshotTable scan -> TranscriptPipeline with a MetricsCollector ->
    write_routed + counts table -> collector snapshot."""

    name = "flagship_batch"
    n_conv, turns, rows = 14_000, 10, 240_000  # ~280 k turns generated
    n_files = 8  # data files of the ingested table

    def prepare(self, input_dir: str) -> None:
        from opentelemetry_collector_contrib_spark.sources.table import SnapshotTable

        files = gen.write_files(
            self.con, gen.transcripts_sql(self.seed, self.n_conv, self.turns, self.rows),
            os.path.join(input_dir, "transcripts"), self.n_files,
        )
        self.parquet = os.path.join(input_dir, "transcripts", "*.parquet")
        self.table = SnapshotTable(os.path.join(input_dir, "table"))
        self.table.overwrite(self.spark.read.parquet(*files))

    def build_oracle(self) -> dict:
        from opentelemetry_collector_contrib_spark.pipeline import TEXT_PATTERN

        self.oracle = oracle.TranscriptOracle(self.con, self.parquet)
        self.rows_per_op = self.oracle.rows
        props = gen.transcript_properties(self.con, self.parquet, TEXT_PATTERN)
        props["route_shares"] = self.oracle.route_shares()
        return props

    def op(self, out: str, collector: bool = True, spans: tr.Tracer | None = None) -> None:
        from opentelemetry_collector_contrib_spark.metrics import MetricsCollector
        from opentelemetry_collector_contrib_spark.pipeline import TranscriptPipeline
        from opentelemetry_collector_contrib_spark.sinks.writers import write_routed

        span = spans.span if spans else _nospan
        coll = MetricsCollector(run_id="perfbench") if collector else None
        with span("sources.read"):
            df = self.table.read(self.spark)
        with span("pipeline.build"):
            routed, counts = TranscriptPipeline(collector=coll)(df)
        with span("sinks.routed_write"):
            write_routed(routed, os.path.join(out, "sinks"))
        with span("connectors.counts_write"):
            counts.write.mode("overwrite").parquet(os.path.join(out, "counts"))
        snap = []
        if coll is not None:
            with span("metrics.snapshot"):
                snap = coll.snapshot(self.spark).collect()
        self.last = {"routed": routed, "counts": counts, "snapshot": snap, "collector": collector}

    def check(self, out: str) -> list[str]:
        o = self.oracle
        bad = oracle.check_sinks(
            oracle.sink_counts(self.con, os.path.join(out, "sinks")), o.sinks
        )
        bad += oracle.check_counts(self.con, os.path.join(out, "counts"), o)
        if self.last["collector"]:
            got = {(r.stage, r.metric): r.value for r in self.last["snapshot"]}
            want = {
                ("receiver", "rows"): o.rows,
                ("router", "rows"): o.rows,
                ("router", "errors"): o.sinks.get("sink_errors", 0),
            }
            if got != want:
                bad.append(f"collector snapshot: got {got}, want {want}")
        return bad

    def trace(self, t: tr.Tracer) -> dict[str, float]:
        from opentelemetry_collector_contrib_spark.pipeline import TranscriptPipeline

        untraced, bare, traced, gc = [], [], [], []
        for i in range(TRACE_REPS):  # interleaved, so drift hits all three alike
            untraced.append(self.checked_op(f"u{i}"))
            bare.append(self.checked_op(f"b{i}", collector=False))
            gc0 = env.gc_seconds(self.spark)
            traced.append(self.checked_op("traced", keep=True, spans=t))
            gc.append(env.gc_seconds(self.spark) - gc0)
        routed, counts = self.last["routed"], self.last["counts"]
        m = job_counters(t, t.jobs(tag=t.last("job").tag), self.rows_per_op)
        m["connectors.count_shuffle_bytes"] = t.stage_totals(
            t.jobs(tag=t.last("connectors.counts_write").tag)
        )["shuffleWriteBytes"]
        del m["training.shuffle_bytes"], m["training.spill_bytes"]
        m.update(plan_counts([tr.executed_plan(routed), tr.executed_plan(counts)]))
        m.update(sink_facts(self.con, os.path.join(self.work, "out", "traced", "sinks")))

        # noop prefixes of the routed write's pass over the table
        p = TranscriptPipeline()
        f0 = self.table.read(self.spark)
        f1 = p.parse(f0)
        f2 = p.enrich(f1)
        f3 = p.route(f2)
        t0, t1, t2, t3 = tr.timed_noops([f0, f1, f2, f3])
        m["operators.regex_evals_per_row"] = tr.regex_calls(tr.optimized_plan(f1))
        # the snapshot read's listing and schema job, plus the scan itself
        m["sources.scan_s"] = t.median("sources.read") + t0
        m["operators.parse_s"] = t1 - t0
        m["processors.enrich_s"] = t2 - t1
        m["connectors.route_s"] = t3 - t2
        m["sinks.write_s"] = t.median("sinks.routed_write") - t3
        # the counts write is a second job: it recomputes scan..route for
        # the columns it needs (sources.rows_read_per_row counts that pass)
        m["connectors.count_s"] = t.median("connectors.counts_write")
        m["pipeline.build_ms"] = 1e3 * t.median("pipeline.build")
        m["metrics.snapshot_ms"] = 1e3 * t.median("metrics.snapshot")
        m["metrics.observe_overhead_frac"] = _median(untraced) / _median(bare) - 1
        m["session.gc_s"] = _median(gc)
        job_s = _median(traced)
        m["trace.job_s"] = job_s
        m["trace.unattributed_s"] = job_s - sum(
            m[k] for k in ("sources.scan_s", "operators.parse_s", "processors.enrich_s",
                           "connectors.route_s", "sinks.write_s", "connectors.count_s")
        ) - (m["pipeline.build_ms"] + m["metrics.snapshot_ms"]) / 1e3
        m["trace.overhead_frac"] = job_s / _median(untraced) - 1
        m.update(StreamProbe(self).trace())

        # the BASELINE N -> 1 scaling constraint: the same job at local[1]
        self.spark = env.restart_spark(self.spark, self.work, 1)
        one = self.checked_op("local1")
        m["pipeline.scaling_eff_1toN"] = one / (self.cores * _median(untraced))
        return m


# --- streaming layer ---------------------------------------------------------

@dataclass
class StreamRun:
    progress: list[dict]
    run_id: str
    sinks: str
    checkpoint: str
    collector: object
    error: str = ""

    def batches(self) -> list[dict]:
        return [p for p in self.progress if p["numInputRows"] > 0]

    def duration_ms(self, *keys: str) -> float:
        return _median([sum(p["durationMs"].get(k, 0) for k in keys) for p in self.batches()])


class StreamProbe:
    """The streaming layer, traced within the flagship's traced run:
    file_stream (maxFilesPerTrigger=1, availableNow) -> streaming_pipeline
    -> write_routed_stream with a MetricsCollector over small files, one
    closed-loop client (the next micro-batch starts after the previous
    one commits), so each micro-batch's fixed costs show. Every
    micro-batch is checked against the oracle for the file it read."""

    n_conv, turns, rows = 1_000, 10, 12_000  # ~20 k turns generated
    n_files = 12  # 1 k turns per file, one file per micro-batch

    def __init__(self, wl: Workload):
        self.wl = wl

    def trace(self) -> dict[str, float]:
        from opentelemetry_collector_contrib_spark.metrics import MetricsCollector

        wl = self.wl
        pool = gen.write_files(
            wl.con, gen.transcripts_sql(wl.seed, self.n_conv, self.turns, self.rows),
            os.path.join(wl.work, "stream-pool"), self.n_files,
        )
        self.oracle = oracle.TranscriptOracle(
            wl.con, os.path.join(os.path.dirname(pool[0]), "*.parquet")
        )
        run = self.stream(pool, MetricsCollector(run_id="perfbench"))
        attempted, failed, bad = self.check(run)
        wl.checked.attempted += attempted
        wl.checked.failed += len(failed)
        wl.checked.errors += bad
        return {
            "streaming.query_planning_ms": run.duration_ms("queryPlanning"),
            "streaming.get_batch_ms": run.duration_ms("getBatch"),
            "streaming.add_batch_ms": run.duration_ms("addBatch"),
            "streaming.commit_ms": run.duration_ms("walCommit", "commitOffsets"),
            "streaming.rows_per_batch": _median([p["numInputRows"] for p in run.batches()]),
        }

    def stream(self, files: list[str], collector) -> StreamRun:
        """Drain ``files`` through one availableNow query."""
        from pyspark.errors import StreamingQueryException

        from opentelemetry_collector_contrib_spark.streaming import (
            file_stream,
            streaming_pipeline,
            write_routed_stream,
        )

        spark = self.wl.spark
        base = self.wl._out("stream")
        src = os.path.join(base, "in")
        os.makedirs(src)
        for f in files:
            os.link(f, os.path.join(src, os.path.basename(f)))
        routed = streaming_pipeline(file_stream(spark, src, max_files_per_trigger=1))
        sinks, ckpt = os.path.join(base, "sinks"), os.path.join(base, "checkpoint")
        q = write_routed_stream(
            routed, sinks, ckpt, trigger_available_now=True, collector=collector, routes=ROUTES
        )
        with contextlib.suppress(StreamingQueryException):  # read back below
            q.awaitTermination()
        err = q.exception()
        return StreamRun(
            list(q.recentProgress), str(q.runId), sinks, ckpt, collector,
            error=str(err)[:500] if err else "",
        )

    def check(self, run: StreamRun) -> tuple[int, set[int], list[str]]:
        """(micro-batches attempted, ids of failed ones, mismatches): every
        micro-batch's per-sink rows must equal the oracle's rows for the
        file it read, and the collector's stream_sink counters must equal
        the rows written. A query error or a counter mismatch fails the
        run as a whole (id -1)."""
        con = self.wl.con
        got = oracle.sink_counts(con, run.sinks, by_batch=True)
        files = oracle.stream_batch_files(run.checkpoint)
        attempted = max(len(files), len(run.batches()))
        failed: set[int] = set()
        bad = []
        for b, fs in sorted(files.items()):
            want: dict[str, int] = {}
            for f in fs:
                for r, n in self.oracle.sinks_by_file[f].items():
                    want[r] = want.get(r, 0) + n
            miss = oracle.check_sinks(got.get(b, {}), want, f"micro-batch {b}")
            if miss:
                failed.add(b)
                bad += miss
        if run.error:
            bad.append(run.error)
            failed.add(-1)
        snap = {r.metric: r.value for r in run.collector.snapshot(self.wl.spark).collect()}
        totals = {f"rows_{r}": float(sum(g.get(r, 0) for g in got.values())) for r in ROUTES}
        totals["rows"] = float(sum(totals.values()))
        if snap != totals:
            bad.append(f"collector stream_sink: got {snap}, want {totals}")
            failed.add(-1)
        return attempted, failed, bad


# --- dedup_pairs ------------------------------------------------------------

class DedupPairs(BatchWorkload):
    """The registered ``dedup_lsh_verified`` (minhash -> banded LSH ->
    Jaccard verify) and ``winnow_match_pairs`` (winnow fingerprints ->
    shared-fingerprint pairs) queries, both pair sets written out."""

    name = "dedup_pairs"
    n_base, replicas = 270, 10  # 270: every length 10-99 three times

    def prepare(self, input_dir: str) -> None:
        # the registered queries read <dir>/documents.parquet
        gen.write_files(
            self.con, gen.documents_sql(self.seed, self.n_base, self.replicas),
            os.path.join(input_dir, "documents.parquet"), 1,
        )
        self.parquet = os.path.join(input_dir, "documents.parquet", "*.parquet")
        self.input_dir = input_dir

    def build_oracle(self) -> dict:
        self.oracle = oracle.DedupOracle(self.con, self.parquet)
        props = gen.document_properties(self.con, self.parquet)
        self.rows_per_op = props["rows"]
        props["replicas"] = self.replicas
        props["near_dup_share"] = self.oracle.near_dup_share
        props["verified_pairs"] = self.oracle.lsh_pairs
        props["winnow_pairs"] = self.oracle.winnow_pairs
        return props

    def op(self, out: str, collector: bool = True, spans: tr.Tracer | None = None) -> None:
        import __spark_entry__ as entry

        span = spans.span if spans else _nospan
        queries = entry.queries()
        with span("sinks.verified_write"):
            queries["dedup_lsh_verified"](self.spark, self.input_dir).write.parquet(
                os.path.join(out, "lsh")
            )
        with span("sinks.winnow_write"):
            queries["winnow_match_pairs"](self.spark, self.input_dir).write.parquet(
                os.path.join(out, "winnow")
            )

    def check(self, out: str) -> list[str]:
        return self.oracle.check(
            self.con, os.path.join(out, "lsh"), os.path.join(out, "winnow")
        )

    def trace(self, t: tr.Tracer) -> dict[str, float]:
        import __spark_entry__ as entry
        from opentelemetry_collector_contrib_spark.training.dedup import (
            jaccard_verify_pairs,
            lsh_candidate_pairs,
            minhash_signatures,
            winnow_fingerprints,
            winnow_match_pairs,
        )

        untraced, traced, gc = [], [], []
        for i in range(TRACE_REPS):  # interleaved, so drift hits both alike
            untraced.append(self.checked_op(f"u{i}"))
            gc0 = env.gc_seconds(self.spark)
            traced.append(self.checked_op("traced", keep=True, spans=t))
            gc.append(env.gc_seconds(self.spark) - gc0)
        m = job_counters(t, t.jobs(tag=t.last("job").tag), self.rows_per_op)
        out = os.path.join(self.work, "out", "traced")
        verified, winnow = (
            self.con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/{d}/*.parquet')"
            ).fetchone()[0]
            for d in ("lsh", "winnow")
        )

        # noop prefixes, composed as the registered queries compose them;
        # the prefixes must yield the written pairs, so a query whose
        # composition drifts from this one fails the operation
        docs = entry._docs(self.spark, self.input_dir)
        cand = lsh_candidate_pairs(
            minhash_signatures(docs, n_hashes=entry._MINHASH_N),
            bands=entry._BANDS, rows_per_band=entry._ROWS,
            max_bucket=entry._LSH_MAX_BUCKET,
        )
        ver = jaccard_verify_pairs(docs, cand, threshold=0.8)
        win = winnow_match_pairs(winnow_fingerprints(docs, k=4, window=4), min_shared=2, max_df=50)
        t0, tc, tv, tw = tr.timed_noops([docs, cand, ver, win])
        candidates = cand.count()
        drift = [
            f"{what} prefix: {n} pairs, the traced query wrote {want}"
            for what, n, want in (("verified", ver.count(), verified),
                                  ("winnow", win.count(), winnow))
            if n != want
        ]
        self.checked.failed += bool(drift)
        self.checked.errors += drift
        m.update(plan_counts([tr.executed_plan(ver), tr.executed_plan(win)]))
        m["training.lsh_candidates"] = candidates
        m["training.lsh_verified"] = verified
        m["training.lsh_yield"] = verified / candidates if candidates else 0.0
        m["training.winnow_pairs"] = winnow
        shared = 2  # both pair queries scan the documents
        m["sources.scan_s"] = shared * t0
        m["training.lsh_s"] = tc - t0
        m["training.verify_s"] = tv - tc
        m["training.winnow_s"] = tw - t0
        m["sinks.write_s"] = (
            t.median("sinks.verified_write") - tv + t.median("sinks.winnow_write") - tw
        )
        m["session.gc_s"] = _median(gc)
        job_s = _median(traced)
        m["trace.job_s"] = job_s
        m["trace.unattributed_s"] = job_s - sum(
            m[k] for k in ("sources.scan_s", "training.lsh_s", "training.verify_s",
                           "training.winnow_s", "sinks.write_s")
        )
        m["trace.overhead_frac"] = job_s / _median(untraced) - 1
        return m


WORKLOADS = {w.name: w for w in (FlagshipBatch, DedupPairs)}
