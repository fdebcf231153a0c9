"""The benchmark's workloads.

Each workload makes its input from the seed and materializes it, runs
its operation untimed (the warm-up), computes the expected output in this
process, then runs timed repetitions whose every output is checked. A
traced pass measures the layers the workload exercises.

The ``documents`` tables under ``data/`` are copies of the registry's
fixed sf0.1 and sf0.001 tables; the expected outputs are the benchmark's
own.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from probes import CallTimer, KernelProbe, percentile, spark_counters, spark_label
from readur_spark.corpus import generate_docs
from readur_spark.kernels.extractor import extract_document
from readur_spark.operators.extract import extract_spans, plan_partitions
from readur_spark.plans import pipeline
from readur_spark.plans.checkpoint import CheckpointTable
from readur_spark.sources import table_format
from readur_spark.sources.tables import interleaved_docs, load_table

#: The registry's ``documents`` tables (5000 and 500 rows).
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: Input sizes. ``full`` is what the timed runs use; ``smoke`` is the
#: registry's sf0.001 scale for the benchmark's own test.
SIZES = {
    "full": {
        "sf_dir": os.path.join(DATA, "sf0.1"),
        "flagship_reps": 4,
        "text_reps": 16,
        "job_docs": 1000,
        "job_partitions": 8,
        "job_batch": 4,
    },
    "smoke": {
        "sf_dir": os.path.join(DATA, "sf0.001"),
        "flagship_reps": 1,
        "text_reps": 1,
        "job_docs": 200,
        "job_partitions": 4,
        "job_batch": 2,
    },
}

#: Layers measured in every traced run, whatever the workload.
COMMON_LAYERS = ("sources", "shuffle", "spark", "trace")

#: Repetitions of each traced probe; per-layer times are their medians and
#: per-layer counts are per repetition.
TRACE_REPEATS = 3

# --------------------------------------------------------------------------
# Inputs
# --------------------------------------------------------------------------

DOCS_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)

EXPECTED_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("order", pa.int32()),
                    ]
                )
            ),
        ),
        ("status", pa.string()),
        ("failure_reason", pa.string()),
        ("word_count", pa.int32()),
    ]
)


def write_rows(path: str, rows: list[dict], schema: pa.Schema, files: int = 1) -> None:
    """Write ``rows`` as ``files`` parquet files of contiguous slices."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for k in range(files):
        pq.write_table(
            pa.Table.from_pylist(rows[k * step : (k + 1) * step], schema=schema),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


# --------------------------------------------------------------------------
# Output digest: order-insensitive, computed in Spark on both sides
# --------------------------------------------------------------------------

DIGEST_COLS = ("doc_id", "spans", "status", "failure_reason", "word_count")


def _span_bytes(col: str = "spans"):
    return F.aggregate(
        col,
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]), F.lit(0)),
    )


def digest_exprs() -> list:
    h = F.xxhash64(*DIGEST_COLS)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("low"),
    ]


def span_exprs() -> list:
    return [
        F.sum(F.size("spans")).alias("spans_out"),
        F.sum(_span_bytes()).alias("bytes_out"),
    ]


def digest(df) -> dict:
    return df.agg(*digest_exprs()).first().asDict()


def same_digest(got: dict, expected: dict) -> bool:
    return all(got.get(k) == v for k, v in expected.items())


def noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def observed_noop(df, extra: list = ()) -> tuple[float, dict]:
    """Materialize ``df`` to the noop sink while Spark computes its digest."""
    obs = Observation("perfbench")
    t0 = time.perf_counter()
    df.observe(obs, *digest_exprs(), *extra).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0, obs.get


def alter_one_span(df):
    """The negative control: append one character to the first span text
    of the smallest doc id."""
    first = df.agg(F.min("doc_id")).first()[0]
    return df.withColumn(
        "spans",
        F.when(
            F.col("doc_id") == first,
            F.transform(
                "spans",
                lambda s, i: F.when(
                    i == 0, s.withField("text", F.concat(s["text"], F.lit("x")))
                ).otherwise(s),
            ),
        ).otherwise(F.col("spans")),
    )


def exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def source_stats(df) -> dict:
    if "spans" in df.columns:
        spans, text_bytes = F.sum(F.size("spans")), F.sum(_span_bytes())
    else:
        spans, text_bytes = F.lit(0), F.sum(F.octet_length("text"))
    r = df.agg(
        F.count(F.lit(1)).alias("docs"),
        spans.alias("spans"),
        text_bytes.alias("text_bytes"),
    ).first()
    return {
        "sources.docs": r["docs"],
        "sources.spans": r["spans"],
        "sources.text_bytes": r["text_bytes"],
        "sources.partitions": df.rdd.getNumPartitions(),
    }


# --------------------------------------------------------------------------
# The kernel, in this process, as the oracle and as a layer
# --------------------------------------------------------------------------


def run_kernel(docs: list[tuple[str, list[dict]]]) -> tuple[list[dict], list[float]]:
    """``extract_document`` over every doc: expected rows and per-doc seconds."""
    rows, doc_s = [], []
    clock = time.perf_counter
    for doc_id, spans in docs:
        t0 = clock()
        res = extract_document(spans)
        doc_s.append(clock() - t0)
        rows.append(
            {
                "doc_id": doc_id,
                "spans": res["spans"],
                "status": res["status"],
                "failure_reason": res["failure_reason"],
                "word_count": res["word_count"],
            }
        )
    return rows, doc_s


def kernel_metrics(docs, rows, doc_s) -> dict:
    """Kernel layer from the oracle pass, then its sub-layers from a second,
    wrapped pass over the same docs."""
    with KernelProbe() as probe:
        t0 = time.perf_counter()
        for _, spans in docs:
            extract_document(spans)
        probed_s = time.perf_counter() - t0
    subs = ("htmlmain", "textnorm", "wordcount", "quality")
    return {
        "kernel.doc_us.p50": percentile(doc_s, 50) * 1e6,
        "kernel.doc_us.p99": percentile(doc_s, 99) * 1e6,
        "kernel.busy_s": sum(doc_s),
        "kernel.self_s": probed_s - sum(probe.busy_s[s] for s in subs),
        "kernel.docs": len(docs),
        "kernel.spans_in": sum(len(spans) for _, spans in docs),
        "kernel.spans_out": sum(len(r["spans"]) for r in rows),
        "kernel.docs_failed": sum(r["status"] == "failed" for r in rows),
        "htmlmain.busy_s": probe.busy_s["htmlmain"],
        "htmlmain.calls": probe.calls["htmlmain"],
        "htmlmain.bytes_in": probe.html_bytes_in,
        "htmlmain.items_out": probe.html_items_out,
        "textnorm.busy_s": probe.busy_s["textnorm"],
        "textnorm.calls": probe.calls["textnorm"],
        "wordcount.busy_s": probe.busy_s["wordcount"],
        "wordcount.calls": probe.calls["wordcount"],
        "quality.busy_s": probe.busy_s["quality"],
        "quality.gate_kept_ratio": probe.kept / probe.gated if probe.gated else 0.0,
    }


def median_noop_s(df) -> float:
    return statistics.median(noop_s(df) for _ in range(TRACE_REPEATS))


def extraction_layers(spark, source, to_plan, cores, expected, kernel) -> dict:
    """The layers of the extraction path: the ``sources`` scan of
    ``source``; ``plan_partitions`` over ``to_plan``; the Arrow round trip
    without the kernel and ``extract_spans`` itself, both over the planned
    input; and the kernel in this process. ``kernel`` is the oracle pass,
    (docs, expected rows, per-doc seconds)."""
    m = {}
    with spark_label(spark, "sources"):
        m["sources.scan_s"] = median_noop_s(source)
    m.update(source_stats(source))
    planned = plan_partitions(to_plan, cores)
    with spark_label(spark, "plan_partitions"):
        m["plan_partitions.s"] = median_noop_s(planned)
    m["plan_partitions.exchanges"] = exchanges(planned) - exchanges(to_plan)
    m["plan_partitions.partitions_out"] = planned.rdd.getNumPartitions()
    ident_s, ext_s = [], []
    for _ in range(TRACE_REPEATS):
        with spark_label(spark, "arrow_identity"):
            ident_s.append(noop_s(planned.mapInPandas(lambda it: it, planned.schema)))
        with spark_label(spark, "extract_spans"):
            s, got = observed_noop(extract_spans(planned), span_exprs())
            ext_s.append(s)
    if not same_digest(got, expected):
        raise RuntimeError("traced extraction output differs from the kernel")
    m.update(
        {
            "extract_spans.s": statistics.median(ext_s),
            "extract_spans.arrow_identity_s": statistics.median(ident_s),
            "extract_spans.docs_out": got["rows"],
            "extract_spans.spans_out": got["spans_out"],
            "extract_spans.out_bytes": got["bytes_out"],
        }
    )
    m.update(kernel_metrics(*kernel))
    return m


def extract_task_metrics(log) -> dict:
    task_s = spark_counters(log, ["extract_spans"])["task_s"]
    return {
        "extract_spans.tasks": len(task_s) / TRACE_REPEATS,
        "extract_spans.task_s.p50": percentile(task_s, 50),
        "extract_spans.task_s.max": max(task_s),
    }


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


class Workload:
    """One benchmark workload bound to a Spark session and a work dir."""

    name = ""
    layers: tuple[str, ...] = ()
    #: Repetitions of the traced run behind the Spark-wide counters.
    trace_repeats = TRACE_REPEATS

    def __init__(self, spark, work: str, seed: int, cores: int, size: dict) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.size = size
        self.n_docs = 0
        self._generation = 0

    def _fresh_dir(self, stem: str) -> str:
        self._generation += 1
        return os.path.join(self.work, f"{stem}-{self._generation}")

    def materialize(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        raise NotImplementedError

    def timed_run(self) -> tuple[float, bool]:
        """One timed repetition: (wall seconds, output check passed)."""
        raise NotImplementedError

    def trace(self, untraced_s: float) -> tuple[dict, list[str]]:
        """Per-layer metrics, and the Spark labels of the traced run."""
        raise NotImplementedError

    def from_event_log(self, log) -> dict:
        return {}

    def negative_control(self) -> bool:
        """True when the output check rejects an altered output."""
        raise NotImplementedError

    def input_summary(self) -> dict:
        return {"docs": self.n_docs}


class CachedExtraction(Workload):
    """``documents`` → ``interleaved_docs`` → replicated with seed-salted
    doc ids and cached → ``extract_spans(num_partitions=cores)`` → noop."""

    layers = (
        "plan_partitions",
        "extract_spans",
        "kernel",
        "htmlmain",
        "textnorm",
        "wordcount",
        "quality",
    )
    with_html = True
    reps_key = "flagship_reps"
    #: The first run pays Python-worker start-up; the JVM keeps compiling
    #: the Arrow transfer path through the next ones.
    warm_up_runs = 3

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.reps = self.size[self.reps_key]
        self.salt = f"s{self.seed}"

    def _replica_id(self):
        return F.concat_ws(
            "-", "doc_id", F.lit(self.salt), F.col("rep").cast("string")
        ).alias("doc_id")

    def materialize(self) -> None:
        self.base = interleaved_docs(
            self.spark, self.size["sf_dir"], with_html=self.with_html
        )
        self.docs = (
            self.base.repartition(2 * self.cores)
            .select(
                F.explode(F.sequence(F.lit(1), F.lit(self.reps))).alias("rep"),
                "doc_id",
                "spans",
            )
            .select(self._replica_id(), "spans")
            .cache()
        )
        self.n_docs = self.docs.count()

    def _job(self):
        return extract_spans(self.docs, num_partitions=self.cores)

    def warm_up(self) -> None:
        for _ in range(self.warm_up_runs):
            noop_s(self._job())

    def prepare_oracle(self) -> None:
        self.kernel_docs = [
            (r["doc_id"], r["spans"]) for r in self.base.toArrow().to_pylist()
        ]
        self.kernel_rows, self.kernel_doc_s = run_kernel(self.kernel_docs)
        path = self._fresh_dir("expected")
        write_rows(path, self.kernel_rows, EXPECTED_ARROW)
        reps = self.spark.range(1, self.reps + 1).select(
            F.col("id").cast("int").alias("rep")
        )
        self.expected = digest(
            self.spark.read.parquet(path)
            .crossJoin(reps)
            .select(self._replica_id(), *DIGEST_COLS[1:])
        )

    def timed_run(self) -> tuple[float, bool]:
        s, got = observed_noop(self._job())
        return s, same_digest(got, self.expected)

    def trace(self, untraced_s: float) -> tuple[dict, list[str]]:
        m = extraction_layers(
            self.spark,
            self.base,
            self.docs,
            self.cores,
            self.expected,
            (self.kernel_docs, self.kernel_rows, self.kernel_doc_s),
        )
        # The self times of the blocking path, each from its own probe: the
        # planned scan, the Arrow round trip on top of it, and the kernel
        # over every replica, spread over the cores.
        plan_self = m["plan_partitions.s"]
        arrow_self = m["extract_spans.arrow_identity_s"] - plan_self
        kernel_self = self.reps * m["kernel.busy_s"] / self.cores
        m["trace.coverage"] = (plan_self + arrow_self + kernel_self) / untraced_s
        m["trace.overhead_s"] = m["extract_spans.s"] - untraced_s
        return m, ["extract_spans"]

    def from_event_log(self, log) -> dict:
        return extract_task_metrics(log)

    def negative_control(self) -> bool:
        return not same_digest(digest(alter_one_span(self._job())), self.expected)

    def input_summary(self) -> dict:
        return {
            "docs": self.n_docs,
            "distinct_docs": len(self.kernel_docs),
            "spans": self.reps * sum(len(s) for _, s in self.kernel_docs),
            "text_bytes": self.reps
            * sum(len((x["text"] or "").encode()) for _, s in self.kernel_docs for x in s),
        }


class HtmlFlagship(CachedExtraction):
    name = "html_flagship"
    layers = CachedExtraction.layers + ("dedup",)

    def trace(self, untraced_s: float) -> tuple[dict, list[str]]:
        """Adds ``operators.dedup``, through the registry's queries over
        this workload's documents table: dedup_near is too costly to run
        beside this workload in every benchmark set, and this keeps its
        layer measured in each traced run."""
        m, labels = super().trace(untraced_s)
        work = os.path.join(self.work, "dedup")
        self.dedup = DedupNear(self.spark, work, self.seed, self.cores, self.size)
        self.dedup.materialize()
        self.dedup.warm_up()
        self.dedup.prepare_oracle()
        m.update(self.dedup.dedup_layers()[0])
        return m, labels

    def from_event_log(self, log) -> dict:
        return {**super().from_event_log(log), **self.dedup.from_event_log(log)}


class TextOnly(CachedExtraction):
    name = "text_only"
    with_html = False
    reps_key = "text_reps"


def job_corpus(n: int, seed: int) -> list[dict]:
    """A ``corpus.generate_docs`` corpus whose 1% mega-docs (200 spans each)
    sit at fixed positions, every 100th doc: the seed changes every span's
    content but not which doc ids are heavy, so the partition that carries
    them, and with it the chunk stragglers, stays the same across seeds."""
    rows = generate_docs(n, seed=seed, mega_fraction=0.0)
    megas = generate_docs(
        max(1, n // 100), seed=seed + 1, mega_fraction=1.0, mega_span_range=(200, 200)
    )
    for k, mega in enumerate(megas):
        rows[min(n - 1, 100 * k + 50)]["spans"] = mega["spans"]
    return rows


class CheckpointedJob(Workload):
    """``plans.pipeline.run_extraction`` with chunked commits into fresh
    output and checkpoint paths per repetition."""

    name = "checkpointed_job"
    layers = CachedExtraction.layers + ("pipeline", "commit", "checkpoint")

    def materialize(self) -> None:
        self.rows = job_corpus(self.size["job_docs"], self.seed)
        self.input = self._fresh_dir("input")
        write_rows(self.input, self.rows, DOCS_ARROW, files=self.cores)
        self.n_docs = len(self.rows)

    def _run(self, run_dir: str) -> dict:
        return pipeline.run_extraction(
            self.spark,
            self.spark.read.parquet(self.input),
            os.path.join(run_dir, "out"),
            os.path.join(run_dir, "ckpt"),
            num_partitions=self.size["job_partitions"],
            batch_partitions=self.size["job_batch"],
        )

    def warm_up(self) -> None:
        """Two runs: the first pays the Spark and Python-worker start-up,
        and the JVM keeps compiling the write path through the second."""
        for _ in range(2):
            run_dir = self._fresh_dir("run")
            self._run(run_dir)
            shutil.rmtree(run_dir)

    def prepare_oracle(self) -> None:
        self.kernel_docs = [(r["doc_id"], r["spans"]) for r in self.rows]
        self.kernel_rows, self.kernel_doc_s = run_kernel(self.kernel_docs)
        path = self._fresh_dir("expected")
        write_rows(path, self.kernel_rows, EXPECTED_ARROW)
        self.expected = digest(self.spark.read.parquet(path))

    def _committed(self, run_dir: str):
        return table_format.read_table(self.spark, os.path.join(run_dir, "out"))

    def check(self, summary: dict, run_dir: str) -> bool:
        parts = self.size["job_partitions"]
        if (
            summary["partitions_processed"] != parts
            or summary["batches"] < 2
            or summary["docs_processed"] != self.n_docs
        ):
            return False
        if not same_digest(digest(self._committed(run_dir)), self.expected):
            return False
        done = (
            CheckpointTable(self.spark, os.path.join(run_dir, "ckpt"))
            .read()
            .filter(F.col("status") == "completed")
            .select("partition_id", "docs_processed")
            .collect()
        )
        if {r["partition_id"] for r in done} != set(range(parts)):
            return False
        if sum(r["docs_processed"] for r in done) != self.n_docs:
            return False
        return self._run(run_dir)["partitions_processed"] == 0

    def timed_run(self) -> tuple[float, bool]:
        run_dir = self._fresh_dir("run")
        t0 = time.perf_counter()
        summary = self._run(run_dir)
        s = time.perf_counter() - t0
        ok = self.check(summary, run_dir)
        shutil.rmtree(run_dir)
        return s, ok

    def _lineage_s(self, run_dir: str) -> float:
        """The pipeline's per-chunk lineage rescan of the committed output,
        run again on its own."""
        parts, batch = self.size["job_partitions"], self.size["job_batch"]
        failed = F.when(F.col("status") == "failed", 1).otherwise(0)
        t0 = time.perf_counter()
        for first in range(0, parts, batch):
            table_format.read_table(self.spark, os.path.join(run_dir, "out")).filter(
                F.col("partition_id").isin(list(range(first, first + batch)))
            ).groupBy("partition_id").agg(
                F.count("*"), F.sum(failed), F.sum("processing_time_ms")
            ).collect()
        return time.perf_counter() - t0

    def trace(self, untraced_s: float) -> tuple[dict, list[str]]:
        source = self.spark.read.parquet(self.input)
        m = extraction_layers(
            self.spark,
            source,
            source,
            self.cores,
            self.expected,
            (self.kernel_docs, self.kernel_rows, self.kernel_doc_s),
        )
        timer = CallTimer()
        targets = (
            (pipeline, "_stage_assigned_input", "staging"),
            (table_format, "overwrite_partitions", "commit"),
            (CheckpointTable, "append", "checkpoint.append", lambda a: len(a[1])),
            (CheckpointTable, "completed_partitions", "checkpoint.read"),
            (CheckpointTable, "attempts_so_far", "checkpoint.read"),
        )
        wall_s = lineage_s = 0.0
        for _ in range(TRACE_REPEATS):
            run_dir = self._fresh_dir("run")
            with spark_label(self.spark, "pipeline"), timer.patched(*targets):
                t0 = time.perf_counter()
                summary = self._run(run_dir)
                wall_s += time.perf_counter() - t0
            with spark_label(self.spark, "lineage"):
                lineage_s += self._lineage_s(run_dir)
            out_files = _parquet_files(os.path.join(run_dir, "out"))
            out_bytes = sum(os.path.getsize(f) for f in out_files)
            ckpt_files = _parquet_files(os.path.join(run_dir, "ckpt"))
            if not self.check(summary, run_dir):
                raise RuntimeError("traced job output failed its check")
            shutil.rmtree(run_dir)
        self.batches = summary["batches"]
        n = TRACE_REPEATS
        per_run = {name: t / n for name, t in timer.s.items()}
        m.update(
            {
                "pipeline.wall_s": wall_s / n,
                # staging, the lineage rescan, planning and cleanup
                "pipeline.self_s": wall_s / n
                - per_run["commit"]
                - per_run["checkpoint.append"]
                - per_run["checkpoint.read"],
                "pipeline.staging_s": per_run["staging"],
                "pipeline.lineage_s": lineage_s / n,
                "pipeline.batches": summary["batches"],
                "commit.s": per_run["commit"],
                "commit.calls": timer.calls["commit"] / n,
                "commit.files": len(out_files),
                "commit.bytes": out_bytes,
                "checkpoint.append_s": per_run["checkpoint.append"],
                "checkpoint.appends": timer.calls["checkpoint.append"] / n,
                "checkpoint.rows": timer.tally["checkpoint.append"] / n,
                "checkpoint.read_s": per_run["checkpoint.read"],
                "checkpoint.files": len(ckpt_files),
                "trace.overhead_s": wall_s / n - untraced_s,
            }
        )
        # Only what the layers measured, with no remainder term: planning,
        # cleanup and anything the wrappers miss stay uncovered.
        m["trace.coverage"] = (
            m["pipeline.staging_s"]
            + m["pipeline.lineage_s"]
            + m["commit.s"]
            + m["checkpoint.append_s"]
            + m["checkpoint.read_s"]
        ) / untraced_s
        return m, ["pipeline"]

    def from_event_log(self, log) -> dict:
        jobs = spark_counters(log, ["pipeline"])["jobs"] / TRACE_REPEATS
        return {
            **extract_task_metrics(log),
            "pipeline.spark_jobs": jobs,
            "pipeline.spark_jobs_per_chunk": jobs / self.batches,
        }

    def negative_control(self) -> bool:
        run_dir = self._fresh_dir("run")
        self._run(run_dir)
        altered = digest(alter_one_span(self._committed(run_dir)))
        shutil.rmtree(run_dir)
        return not same_digest(altered, self.expected)

    def input_summary(self) -> dict:
        return {
            "docs": self.n_docs,
            "spans": sum(len(s) for _, s in self.kernel_docs),
            "text_bytes": sum(
                len((x["text"] or "").encode()) for _, s in self.kernel_docs for x in s
            ),
            "partitions": self.size["job_partitions"],
            "batch_partitions": self.size["job_batch"],
        }


def _parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    ]


#: The registry's dedup queries (``__spark_entry__.queries()``) by the
#: short name the per-layer metrics use.
DEDUP_QUERIES = {
    "exact": "dedup_exact",
    "ngram_jaccard": "dedup_ngram_jaccard",
    "minhash_lsh": "dedup_minhash_lsh",
}

_FINGERPRINT_SQL = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"


class DedupNear(Workload):
    """The registry's exact, n-gram Jaccard and MinHash-LSH dedup queries
    over the registry's ``documents`` table, checked against DuckDB. The
    table is fixed, so the seed does not apply."""

    name = "dedup_near"
    layers = ("dedup",)
    trace_repeats = 1

    def materialize(self) -> None:
        import __spark_entry__ as registry

        self.sf_dir = self.size["sf_dir"]
        queries = registry.queries()
        self.queries = {fn: queries[q] for fn, q in DEDUP_QUERIES.items()}
        self.table = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        self.n_docs = self.table.num_rows

    def _iteration(self, labelled: bool = False, sf_dir: str = "") -> tuple[dict, dict]:
        walls, outs = {}, {}
        for fn, query in self.queries.items():
            label = f"dedup.{fn}" if labelled else None
            with spark_label(self.spark, label):
                t0 = time.perf_counter()
                outs[fn] = query(self.spark, sf_dir or self.sf_dir).collect()
                walls[fn] = time.perf_counter() - t0
            self.spark.catalog.clearCache()
        return walls, outs

    def warm_up(self) -> None:
        """One iteration over the sf0.001 table: the stage chain, not the
        data volume, is what pays first-run costs here."""
        self._iteration(sf_dir=SIZES["smoke"]["sf_dir"])

    def prepare_oracle(self) -> None:
        """The registry's DuckDB oracle SQL for the three queries (its
        ``oracle_sql()`` builds all hundred oracles, so only these are
        rebuilt here, from the registry's shared shingle CTE)."""
        import duckdb

        import __spark_entry__ as registry

        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            self.oracle_exact = set(
                con.execute(
                    f"SELECT {_FINGERPRINT_SQL} AS fingerprint, count(*) AS n_dups "
                    "FROM documents GROUP BY 1 HAVING count(*) > 1"
                ).fetchall()
            )
            self.oracle_pairs = {
                (a, b): j
                for a, b, j in con.execute(
                    registry._SHINGLE3
                    + """
                    SELECT ia AS id_a, ib AS id_b,
                           round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
                    FROM inter JOIN sz sa ON ia = sa.id JOIN sz sb ON ib = sb.id
                    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
                    """
                ).fetchall()
            }
        finally:
            con.close()

    def check(self, outs: dict) -> bool:
        exact = {(r["fingerprint"], r["n_dups"]) for r in outs["exact"]}
        if exact != self.oracle_exact:
            return False
        for fn in ("ngram_jaccard", "minhash_lsh"):
            got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in outs[fn]}
            if got.keys() != self.oracle_pairs.keys() or any(
                abs(got[k] - v) > 1e-6 for k, v in self.oracle_pairs.items()
            ):
                return False
        return True

    def timed_run(self) -> tuple[float, bool]:
        walls, outs = self._iteration()
        return sum(walls.values()), self.check(outs)

    def dedup_layers(self) -> tuple[dict, float]:
        """One labelled, checked iteration: per-query metrics and its wall."""
        walls, outs = self._iteration(labelled=True)
        if not self.check(outs):
            raise RuntimeError("traced dedup output differs from the oracle")
        m = {}
        for fn in DEDUP_QUERIES:
            m[f"dedup.{fn}_s"] = walls[fn]
            m[f"dedup.{fn}.pairs_out"] = len(outs[fn])
        return m, sum(walls.values())

    def trace(self, untraced_s: float) -> tuple[dict, list[str]]:
        source = load_table(self.spark, self.sf_dir, "documents")
        m = {}
        with spark_label(self.spark, "sources"):
            m["sources.scan_s"] = median_noop_s(source)
        m.update(source_stats(source))
        layers, traced = self.dedup_layers()
        m.update(layers)
        m["trace.overhead_s"] = traced - untraced_s
        m["trace.coverage"] = traced / untraced_s
        return m, [f"dedup.{fn}" for fn in DEDUP_QUERIES]

    def from_event_log(self, log) -> dict:
        return {
            f"dedup.{fn}.stages": spark_counters(log, [f"dedup.{fn}"])["stages"]
            for fn in DEDUP_QUERIES
        }

    def negative_control(self) -> bool:
        _, outs = self._iteration()
        outs["minhash_lsh"] = outs["minhash_lsh"][1:]
        return not self.check(outs)

    def input_summary(self) -> dict:
        return {
            "docs": self.n_docs,
            "text_bytes": sum(len(t.encode()) for t in self.table["text"].to_pylist()),
            "oracle_pairs": len(self.oracle_pairs),
            "oracle_exact_groups": len(self.oracle_exact),
        }


WORKLOADS = {w.name: w for w in (HtmlFlagship, TextOnly, CheckpointedJob, DedupNear)}
