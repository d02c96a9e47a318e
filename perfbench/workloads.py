"""The two workloads: set-up, one timed pass, and the pass's output checks.

Each workload calls only the package's public functions and times them
from outside.  A pass is a fixed sequence of closed-loop operations, each
one batch call the caller waits on.  Everything else a pass needs —
deleting the previous output, checking results, reading trace metrics —
happens outside the timed intervals.
"""

from __future__ import annotations

import decimal
import hashlib
import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from docling_service_spark.corpus import N_FAMILIES, build_doc, corpus_df
from docling_service_spark.engine.extract import META_BLOCK_PREFIX, extract_document
from docling_service_spark.queries import ORACLES, QUERIES
from docling_service_spark.queries.text_ops import CHUNK_STRIDE, CHUNK_TOKENS
from docling_service_spark.sparkio.checkpoint import (
    SnapshotStore, run_incremental, run_merge_upsert)
from docling_service_spark.sparkio.pipeline import run_extraction
from docling_service_spark.training import MIN_ALPHA_BP, MIN_BODY_CHARS, build_training_set

import probes
from tables import SUITE_TABLES, write_suite_tables

N_BUCKETS = 64  # job.py's --n-buckets default
OVERSIZE_EVERY, MALFORMED_EVERY = 97, 211  # corpus_df's defaults
FAMILIES = ("html", "pdf", "pdf_html", "sheet", "slides", "flow")  # idx % 6

# One query per ROADMAP direction it tracks: q43 (1, CC loop), q41 (3,
# vector-math paths), q46 (5, grouped-kernel memory), q01 and q20 (4, scan
# layout).  The training funnel is the carry-over item.
SUITE_QUERIES = ("q43_embedding_near_dup_keepers", "q41_lsh_buckets",
                 "q46_ivf_cluster_pairs", "q01_pricing_summary", "q20_token_stats")
TRAINING_OP = "build_training_set"
JOB_OPS = ("run_incremental", "run_merge_upsert")
CHECKPOINT_TIMINGS = ("extract_and_write_ms", "summarize_ms", "commit_ms", "lineage_ms")


@dataclass(frozen=True)
class Scale:
    corpus_docs: int       # job_path corpus
    delta_every: int       # job_path delta: 1 in delta_every ordinary-size docs changes
    lineitem: int          # operator_suite tables
    documents: int
    embeddings: int
    training_docs: int     # extracted table the training funnel reads


SCALES = {
    "full": Scale(corpus_docs=2000, delta_every=20, lineitem=100_000, documents=1000,
                  embeddings=500, training_docs=200),
    # Seconds-long runs for the benchmark's own smoke test.
    "tiny": Scale(corpus_docs=240, delta_every=20, lineitem=2000, documents=120,
                  embeddings=120, training_docs=36),
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    scale: Scale
    status: probes.SparkStatus

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Pass:
    wall_s: float                   # the pass's timed operations, checks excluded
    op_walls: dict[str, float]      # op -> its wall
    failures: dict[str, list[str]]  # op -> its failed checks or error
    attempted: int
    layers: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Per-pass timing of named operations.  When tracing, each operation
    runs under its own Spark job group, and the pass's Python-worker CPU
    is read from ``/proc`` around it; untraced passes set no group."""

    def __init__(self, ctx: Ctx, label: str, traced: bool):
        self.ctx, self.label, self.traced = ctx, label, traced
        self.sc = ctx.spark.sparkContext
        self.walls: dict[str, float] = {}
        self.groups: dict[str, str] = {}
        self.per_op: dict[str, dict[str, float]] = {}
        self.cpu0 = (probes.worker_cpu_s(probes.python_workers(os.getpid()))
                     if traced else 0.0)

    def op(self, name: str, fn):
        if self.traced:
            self.groups[name] = f"{self.label}-{name}"
            self.sc.setJobGroup(self.groups[name], name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls[name] = time.perf_counter() - t0
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def attempt(self, name: str, fn, failures: dict[str, list[str]]):
        """``op``, with a raise booked as that operation's failure."""
        try:
            return self.op(name, fn)
        except Exception as exc:  # a failing call is a failed op, not a crash
            failures[name] = [f"{name}: {type(exc).__name__}: {exc}"]
            return None

    def layers(self) -> dict[str, float]:
        """Spark metrics summed over the pass, jobs per operation, and the
        pass's Python-worker CPU time."""
        cpu = probes.worker_cpu_s(probes.python_workers(os.getpid())) - self.cpu0
        self.per_op = {op: self.ctx.status.group_metrics([g]) for op, g in self.groups.items()}
        ops = self.per_op.values()
        out = {f"spark.{k}": sum(m[k] for m in ops)
               for k in probes.SPARK_LAYER_KEYS if k != "task_max_over_median"}
        out["spark.task_max_over_median"] = max(m["task_max_over_median"] for m in ops)
        out.update({f"spark.jobs.{op}": m["jobs"] for op, m in self.per_op.items()})
        out["python.worker_cpu_s"] = cpu
        return out


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def _span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans or []]


def _expected_output(doc_id: str, spans) -> tuple[str, list[tuple]]:
    """(status, span sequence) the engine gives for one input document."""
    try:
        return "completed", _span_tuples(extract_document(doc_id, spans)["spans"])
    except Exception:  # the Spark kernel books any per-doc raise as 'failed'
        return "failed", []


def _check_docs(ctx: Ctx, root: str, expected: dict[str, tuple[str, list]]) -> list[str]:
    """Read ``expected``'s docs back from the committed table and compare
    status and span sequence with what the engine gives on the same input."""
    rows = SnapshotStore(root).read_docs(ctx.spark, sorted(expected)).collect()
    got = {r["doc_id"]: (r["status"], _span_tuples(r["spans"]) if r["status"] == "completed" else [])
           for r in rows}
    return [f"doc {d}: read-back differs from extract_document"
            for d, want in sorted(expected.items()) if got.get(d) != want]


def _sample_indices(n_docs: int) -> list[int]:
    """One ordinary doc per family, plus one oversize and one malformed."""
    idx = []
    for fam in range(N_FAMILIES):
        i = fam + N_FAMILIES
        while i % OVERSIZE_EVERY == 0 or i % MALFORMED_EVERY == 0:
            i += N_FAMILIES
        idx.append(i)
    return [i for i in idx + [OVERSIZE_EVERY, MALFORMED_EVERY] if i < n_docs]


def _revise(spans):
    """Changed span text for the merge delta, per span kind, keeping every
    payload parseable: prose gets a suffix, HTML a heading prefix, sheet
    names a prefix; JSON table payloads and geometry stay as they were."""
    def revise(s):
        prose = (s["kind"].isin("text_block", "slide_block")
                 | ((s["kind"] == "flow_block") & ~s["media_ref"].contains(",table,")))
        return s.withField("text", (
            F.when(s["kind"] == "html", F.regexp_replace(s["text"], "<h1>", "<h1>Revised "))
            .when(s["kind"] == "sheet_grid",
                  F.regexp_replace(s["text"], '"name": "', '"name": "Revised '))
            .when(prose, F.concat(s["text"], F.lit(" revised")))
            .otherwise(s["text"])))
    return F.transform(spans, revise)


class JobPath:
    """What ``job.py`` runs over a table's life: a fresh ``run_incremental``
    of a pre-written parquet corpus into an empty root (scan → extract →
    write → commit → lineage), then a ``run_merge_upsert`` of a ~5% delta
    (same doc_ids, changed span text) onto it (diff join, carried rows,
    bucket summaries, commit)."""

    # Measured on 4 CPUs: after one warm pass the merge call kept getting
    # faster for three more passes (3.2 -> 2.5 s), so two warm passes.
    WARM_PASSES, MIN_PASSES = 2, 3
    THROUGHPUT_OP = "run_incremental"  # docs_per_s = corpus docs / its median wall

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = ctx.scale.corpus_docs
        self.corpus, self.delta = ctx.path("corpus"), ctx.path("delta")
        self.table = ctx.path("table")
        self.salt = (ctx.seed * 2654435761) % 2**31  # picks the delta
        self.n_malformed = (self.n_docs - 1) // MALFORMED_EVERY
        self.expected_fresh = {}
        for i in _sample_indices(self.n_docs):
            doc = build_doc(i, ctx.seed)
            self.expected_fresh[doc["doc_id"]] = _expected_output(doc["doc_id"], doc["spans"])
        self.n_delta = 0
        self.expected_merged: dict = {}
        self.passes = 0

    @property
    def docs(self) -> int:
        return self.n_docs

    def setup(self) -> dict[str, float]:
        spark = self.ctx.spark
        t0 = time.perf_counter()
        corpus_df(spark, self.n_docs, seed=self.ctx.seed).write.mode("overwrite").parquet(self.corpus)
        # Exactly corpus/delta_every docs, the lowest salted hashes among the
        # ordinary-size ones: every seed's delta then costs the same (a
        # modulo pick varied 90-115 docs per seed and sometimes caught one of
        # the 40x-size docs, which alone re-extracts for ~1 s).
        idx = F.substring_index("doc_id", "-", -1).cast("int")
        picked = (spark.read.parquet(self.corpus).filter(idx % OVERSIZE_EVERY != 0)
                  .orderBy(F.xxhash64("doc_id", F.lit(self.salt)))
                  .limit(self.n_docs // self.ctx.scale.delta_every))
        picked.select("doc_id", _revise(F.col("spans")).alias("spans")) \
            .write.mode("overwrite").parquet(self.delta)
        corpus_s = time.perf_counter() - t0
        # Check inputs, outside the set-up timing: the delta's size and the
        # engine's output for its first changed doc of each family.
        delta = spark.read.parquet(self.delta).collect()
        self.n_delta = len(delta)
        sample = {}
        for r in sorted(delta, key=lambda r: r["doc_id"]):
            sample.setdefault(int(r["doc_id"].rsplit("-", 1)[1]) % N_FAMILIES, r)
        self.expected_merged = {
            r["doc_id"]: _expected_output(r["doc_id"], [s.asDict() for s in r["spans"]])
            for r in sample.values()}
        return {"corpus_s": corpus_s, "base_table_s": 0.0}

    def run_pass(self, traced: bool, checked: bool = True) -> Pass:
        spark = self.ctx.spark
        self.passes += 1
        _rmtree(self.table)
        tr = Tracer(self.ctx, f"j{self.passes}", traced)
        failures: dict[str, list[str]] = {}
        fresh = tr.attempt("run_incremental", lambda: run_incremental(
            spark, spark.read.parquet(self.corpus), self.table, n_buckets=N_BUCKETS), failures)
        if fresh is None:  # nothing to merge onto
            return Pass(tr.walls["run_incremental"], tr.walls, failures, 1)
        if checked and (bad := self.check_fresh()):
            failures["run_incremental"] = bad
        merged = tr.attempt("run_merge_upsert", lambda: run_merge_upsert(
            spark, spark.read.parquet(self.delta), self.table, n_buckets=N_BUCKETS), failures)
        if checked and merged is not None and (bad := self.check_merged(merged)):
            failures["run_merge_upsert"] = bad
        p = Pass(sum(tr.walls.values()), tr.walls, failures, len(JOB_OPS))
        if traced and merged is not None:
            p.layers = tr.layers()
            kernel_s = fresh["run_stats"]["wall_ms"] / 1e3
            run_s = tr.per_op["run_incremental"]["executor_run_s"]
            changed, written = merged["docs_changed"], merged["docs"]
            p.layers.update({
                "checkpoint.run_incremental_s": tr.walls["run_incremental"],
                "checkpoint.run_merge_upsert_s": tr.walls["run_merge_upsert"],
                "checkpoint.output_mb": self._run_dir_mb(fresh),
                "checkpoint.merge.output_mb": self._run_dir_mb(merged),
                "batch.kernel_s": kernel_s,
                "batch.kernel_share": kernel_s / run_s if run_s > 0 else 0.0,
                "merge.docs_changed": float(changed),
                "merge.rows_written": float(written),
                "merge.rows_written_per_changed_doc": written / changed if changed else 0.0,
                "pipeline.extract_noop_s": self._noop_extract(),
                "reconcile.layers_over_wall": (
                    sum(fresh["timings_ms"].values()) + sum(merged["timings_ms"].values()))
                / 1e3 / p.wall_s,
            })
            for k in CHECKPOINT_TIMINGS:
                p.layers[f"checkpoint.{k}"] = float(fresh["timings_ms"][k])
                p.layers[f"checkpoint.merge.{k}"] = float(merged["timings_ms"][k])
        return p

    def trace_extras(self) -> Pass:
        """One checked pass at Spark's default shuffle partitions, the
        setting ``job.py`` runs with; its merge call's wall is
        ``checkpoint.merge_default_partitions_s``.  Timed passes run at 2x
        the slots instead (see run.py's ``_start_session``)."""
        conf = self.ctx.spark.conf
        pinned = conf.get("spark.sql.shuffle.partitions")
        conf.unset("spark.sql.shuffle.partitions")
        try:
            p = self.run_pass(traced=False)
        finally:
            conf.set("spark.sql.shuffle.partitions", pinned)
        if "run_merge_upsert" in p.op_walls:
            p.layers = {"checkpoint.merge_default_partitions_s": p.op_walls["run_merge_upsert"]}
        return p

    def _run_dir_mb(self, summary: dict) -> float:
        return _dir_mb(os.path.join(self.table, "data", f"run={summary['run_id']}"))

    def _noop_extract(self) -> float:
        """``run_extraction`` over the same corpus into a noop sink: the
        extraction path with no write and no commit."""
        spark = self.ctx.spark
        t0 = time.perf_counter()
        run_extraction(spark.read.parquet(self.corpus)).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def check_fresh(self) -> list[str]:
        store = SnapshotStore(self.table)
        failures = []
        if (live := store.live_doc_count()) != self.n_docs:
            failures.append(f"live_doc_count {live} != {self.n_docs}")
        pf = store.lifetime_totals(self.ctx.spark)["parse_failures"]
        if pf != self.n_malformed:
            failures.append(f"parse_failures {pf} != {self.n_malformed}")
        return failures + _check_docs(self.ctx, self.table, self.expected_fresh)

    def check_merged(self, summary: dict) -> list[str]:
        failures = []
        if (live := SnapshotStore(self.table).live_doc_count()) != self.n_docs:
            failures.append(f"live_doc_count after merge {live} != {self.n_docs}")
        if summary.get("docs_changed") != self.n_delta:
            failures.append(f"docs_changed {summary.get('docs_changed')} != {self.n_delta}")
        for doc_id, (status, spans) in self.expected_merged.items():
            if status == "completed" and not any("evised" in s[1] for s in spans):
                failures.append(f"doc {doc_id}: expected output carries no revised text")
        return failures + _check_docs(self.ctx, self.table, self.expected_merged)


def _canon_hash(cols: list[str], rows) -> str:
    """Order-free, type-tagged digest of a result: columns by name, rows
    sorted, floats to 9 places (as tests/test_entry_contract.py compares)."""
    def norm(v):
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            return ("f", round(v, 9))
        if isinstance(v, decimal.Decimal):
            return ("d", v)
        if isinstance(v, int):
            return ("i", v)
        return ("o", v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)
    return hashlib.sha256(repr(([cols[i] for i in order], canon)).encode()).hexdigest()


_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, which Spark's split uses


def _training_reference(rows) -> list[tuple]:
    """``build_training_set``'s rows, recomputed in plain Python from the
    extracted table's (doc_id, status, markdown) rows by the rules
    training.py documents: the body is the markdown before the last
    metadata block; a body passes with at least MIN_BODY_CHARS characters
    of which at least MIN_ALPHA_BP basis points are ASCII letters; the
    lowest doc_id wins per lower-cased alphanumeric fingerprint; a body
    splits into CHUNK_TOKENS-token windows at stride CHUNK_STRIDE."""
    keepers: dict[str, tuple[str, str]] = {}
    for r in rows:
        if r["status"] != "completed" or r["markdown"] is None:
            continue
        md = r["markdown"]
        cut = md.rfind(META_BLOCK_PREFIX)
        body = md[:cut] if cut >= 0 else md
        alpha = sum(c.isascii() and c.isalpha() for c in body)
        if len(body) < MIN_BODY_CHARS or alpha * 10000 // max(len(body), 1) < MIN_ALPHA_BP:
            continue
        fp = re.sub("[^a-z0-9]", "", body.lower())
        if fp not in keepers or r["doc_id"] < keepers[fp][0]:
            keepers[fp] = (r["doc_id"], body)
    out = []
    for doc_id, body in keepers.values():
        toks = [t for t in _JAVA_SPACE.split(body) if t]
        n = len(toks)
        n_chunks = 1 if n <= CHUNK_TOKENS else (n - CHUNK_TOKENS + CHUNK_STRIDE - 1) // CHUNK_STRIDE + 1
        for i in range(n_chunks):
            chunk = toks[i * CHUNK_STRIDE:i * CHUNK_STRIDE + CHUNK_TOKENS]
            out.append((doc_id, i, " ".join(chunk), len(chunk)))
    return sorted(out)


class OperatorSuite:
    """Fixed queries over seeded suite tables, plus the training funnel
    over an extracted table built at set-up.  A pass calls each query once
    (result collected, then hashed against its DuckDB oracle) and the
    funnel once (noop sink)."""

    # Measured on 4 CPUs: a second warm pass did not lower the run-to-run
    # spread; a fourth timed pass costs less and steadies the median.
    WARM_PASSES, MIN_PASSES = 1, 4
    THROUGHPUT_OP = TRAINING_OP  # docs_per_s = extracted docs / its median wall

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf_dir = ctx.path("tables")
        self.train = ctx.path("train")
        self.oracle: dict[str, str] = {}
        self.training_ref: list[tuple] = []
        self.n_train = 0
        self.passes = 0

    @property
    def docs(self) -> int:
        return self.n_train

    def setup(self) -> dict[str, float]:
        ctx, spark, sc = self.ctx, self.ctx.spark, self.ctx.scale
        t0 = time.perf_counter()
        write_suite_tables(self.sf_dir, ctx.seed, n_lineitem=sc.lineitem,
                           n_documents=sc.documents, n_embeddings=sc.embeddings)
        corpus_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        docs = corpus_df(spark, sc.training_docs, seed=ctx.seed)
        # corpus_df makes no duplicate documents; every 20th doc again under
        # a higher doc_id gives the funnel's exact dedup keepers to choose.
        dups = (docs.filter(F.substring_index("doc_id", "-", -1).cast("int") % 20 == 1)
                .withColumn("doc_id", F.concat("doc_id", F.lit("-copy"))))
        run_incremental(spark, docs.unionByName(dups), self.train, n_buckets=N_BUCKETS)
        base_s = time.perf_counter() - t0
        self.oracle = self._oracle_hashes()
        rows = (SnapshotStore(self.train).read_output(spark)
                .select("doc_id", "status", "markdown").collect())
        self.n_train = len(rows)
        self.training_ref = _training_reference(rows)
        return {"corpus_s": corpus_s, "base_table_s": base_s}

    def _oracle_hashes(self) -> dict[str, str]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in SUITE_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out = {}
            for q in SUITE_QUERIES:
                res = con.sql(ORACLES[q])
                out[q] = _canon_hash(res.columns, res.fetchall())
            return out
        finally:
            con.close()

    def _training_set(self):
        return build_training_set(SnapshotStore(self.train).read_output(self.ctx.spark))

    def _query(self, q: str):
        df = QUERIES[q](self.ctx.spark, self.sf_dir)
        return df.columns, df.collect()

    def run_pass(self, traced: bool, checked: bool = True) -> Pass:
        self.passes += 1
        tr = Tracer(self.ctx, f"s{self.passes}", traced)
        results, failures = {}, {}
        t_pass = time.perf_counter()
        for q in SUITE_QUERIES:
            if (res := tr.attempt(q, lambda: self._query(q), failures)) is not None:
                results[q] = res
        tr.attempt(TRAINING_OP, lambda: self._training_set().write.format("noop")
                   .mode("overwrite").save(), failures)
        wall = time.perf_counter() - t_pass
        if checked:
            self.check(results, failures)
        p = Pass(wall, tr.walls, failures, len(tr.walls))
        if traced:
            p.layers = tr.layers()
            p.layers.update({f"queries.{q}_s": tr.walls[q] for q in SUITE_QUERIES})
            p.layers["training.build_training_set_s"] = tr.walls[TRAINING_OP]
            p.layers["reconcile.layers_over_wall"] = sum(tr.walls.values()) / wall
        return p

    def trace_extras(self) -> None:
        """The suite's traced passes hold all its per-layer metrics."""
        return None

    def check(self, results: dict, failures: dict[str, list[str]]) -> None:
        for q, (cols, rows) in results.items():
            if _canon_hash(cols, rows) != self.oracle[q]:
                failures[q] = [f"{q}: result hash differs from the DuckDB oracle"]
        if TRAINING_OP not in failures:
            got = sorted(tuple(r) for r in self._training_set()
                         .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens").collect())
            if got != self.training_ref or not got:
                failures[TRAINING_OP] = [
                    f"{TRAINING_OP}: {len(got)} chunks differ from the "
                    f"{len(self.training_ref)} of the Python reference"]


WORKLOADS = {"job_path": JobPath, "operator_suite": OperatorSuite}


def engine_us_per_doc(seed: int, docs_per_family: int = 16,
                      min_s: float = 0.15) -> dict[str, float]:
    """Single-threaded ``extract_document`` on the driver over fixed
    non-oversize, well-formed samples of each family: median µs/doc over
    repeated rounds (each family's first round is a discarded warm-up)."""
    out = {}
    for fam, name in enumerate(FAMILIES):
        docs, i = [], fam + N_FAMILIES
        while len(docs) < docs_per_family:
            if i % OVERSIZE_EVERY and i % MALFORMED_EVERY:
                docs.append(build_doc(i, seed))
            i += N_FAMILIES
        rounds = []
        t_end = time.perf_counter() + min_s
        while len(rounds) < 6 or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            for d in docs:
                extract_document(d["doc_id"], d["spans"])
            rounds.append((time.perf_counter() - t0) / len(docs) * 1e6)
        out[f"engine.us_per_doc.{name}"] = statistics.median(rounds[1:])
    return out
