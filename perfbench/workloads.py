"""The benchmark's workloads: set-up, one timed operation, and its output check.

Each workload drives ``deed_ocr_spark`` only through its public functions.
``op`` is the timed operation; ``prepare`` runs before it, outside the
timer, and ``check`` runs after it, outside the timer, returning a list of
problems (empty when the output is correct). ``layers`` runs only in the
traced run, after the timed loop, and returns per-layer numbers.

A layer the workload never calls reports 0 for that layer's metrics, so
every traced run prints the same metric names.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import textcorpus

PER_LAYER = {
    "kernels.udf_s": "s",
    "job.extract_count_s": "s",
    "job.exchange_count_s": "s",
    "state.write_s": "s",
    "state.ledger_s": "s",
    "state.unaccounted_share": "ratio",
    "state.files_written": "count",
    "state.out_bytes_per_in_byte": "ratio",
    "signatures.append_shingles_s": "s",
    "signatures.append_winnow_s": "s",
    "signatures.mirror_refresh_s": "s",
    "signatures.pairs_delta_s": "s",
    "signatures.bytes_written_per_append_byte": "ratio",
    "signatures.space_per_corpus_byte": "ratio",
    "signatures.files_live": "count",
    "components.incremental_s": "s",
    "components.cc_s": "s",
    "components.rounds": "count",
    "textpipe.d13_s": "s",
    "textpipe.d7_s": "s",
    "textpipe.d9_s": "s",
    "textpipe.lsh_recall": "ratio",
}

# state.write_s + state.ledger_s must cover the job's wall time to within
# this share; the rest is the ledger read before the write and the
# counters aggregation after it.
STATE_SLACK = 0.25


class NullRecorder:
    """Stands in for tracing.SpanRecorder in the timing runs: no job groups,
    no spans."""

    @contextmanager
    def span(self, name):
        yield None


def digest(df) -> tuple:
    """Order-free digest: (rows, xor of row hashes, sum of row hashes mod p).
    The sum catches duplicated rows, which cancel out of the xor."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(h)").alias("x"),
            F.sum(F.pmod("h", F.lit(2147483647))).alias("s"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["x"] or 0), int(row["s"] or 0)


def listing(root: str) -> dict:
    """{path: (bytes, mtime_ns)} of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(root: str, suffix: str = "") -> int:
    return sum(size for p, (size, _) in listing(root).items() if p.endswith(suffix))


def median_or_zero(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class ExtractJob:
    """One ``state.run_extraction_job`` over a heavy-tailed corpus from
    ``corpus.corpus_df``, into fresh out and state dirs."""

    name = "extract_job"
    warmup_jobs = 1

    def __init__(self, spark, work, seed, docs=20000, buckets=16):
        self.spark, self.work, self.seed = spark, work, seed
        self.docs, self.buckets = docs, buckets
        self.out = os.path.join(work, "out")
        self.state = os.path.join(work, "state")
        self.runs = 0
        self.results: list = []

    def setup(self, rec):
        from deed_ocr_spark.corpus import corpus_df
        from deed_ocr_spark.job import extract_spans

        self.corpus = os.path.join(self.work, "corpus")
        with rec.span("corpus.write"):
            corpus_df(self.spark, self.docs, seed=self.seed).write.parquet(self.corpus)
        self.df = self.spark.read.parquet(self.corpus)
        with rec.span("job.reference_pass"):
            ref = extract_spans(self.df).localCheckpoint(eager=True)
            row = ref.agg(
                F.count_distinct("doc_id").alias("docs"),
                F.count(F.lit(1)).alias("spans"),
                F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("errors"),
            ).collect()[0]
            self.expected = {
                "docs": int(row["docs"]),
                "spans": int(row["spans"]),
                "span_errors": int(row["errors"]),
                "digest": digest(ref),
            }
        # warm-up: the first jobs of a session run well below steady speed
        # (code generation, JIT, first touch of the heap)
        for _ in range(self.warmup_jobs):
            self.prepare()
            problems = self.check(self.op(rec))
            if problems:
                raise RuntimeError(f"warm-up job failed its check: {problems}")
        self.results = []

    def prepare(self):
        for d in (self.out, self.state):
            shutil.rmtree(d, ignore_errors=True)
        os.sync()

    def op(self, rec):
        from deed_ocr_spark.state import run_extraction_job

        self.runs += 1
        with rec.span("state.run_extraction_job"):
            return run_extraction_job(
                self.spark, self.df, self.out, self.state,
                run_id=f"bench-{self.runs}", n_buckets=self.buckets,
            )

    def check(self, res):
        from deed_ocr_spark.extract import SPANS_OUT_DDL

        exp = self.expected
        self.results.append(res)
        problems = []
        if res["buckets_done"] != self.buckets:
            problems.append(f"buckets_done {res['buckets_done']} != {self.buckets}")
        for k in ("docs", "spans"):
            if res[k] != exp[k]:
                problems.append(f"{k} {res[k]} != {exp[k]}")
        ledger = self.spark.read.parquet(self.state)
        errors = ledger.agg(F.sum("span_errors")).collect()[0][0] or 0
        if errors != exp["span_errors"]:
            problems.append(f"span_errors {errors} != {exp['span_errors']}")
        cols = [c.split()[0] for c in SPANS_OUT_DDL.split(", ")]
        got = digest(self.spark.read.parquet(self.out).select(*cols))
        if got != exp["digest"]:
            problems.append(f"output digest {got} != {exp['digest']}")
        return problems

    def can_continue(self):
        return True

    def layers(self, rec):
        from deed_ocr_spark.extract import extract_spans_batches_arrow
        from deed_ocr_spark.job import (
            extract_spans,
            repartition_for_bucketed_write,
            with_partition_bucket,
        )

        write = [r["wall_write_sec"] for r in self.results]
        ledger = [r["wall_ledger_sec"] for r in self.results]
        walls = rec.seconds("state.run_extraction_job")
        out = {
            "state.write_s": median_or_zero(write),
            "state.ledger_s": median_or_zero(ledger),
            "state.unaccounted_share": median_or_zero(
                [(t - w - l) / t for t, w, l in zip(walls, write, ledger)]
            ),
        }
        out["state.files_written"] = sum(p.endswith(".parquet") for p in listing(self.out))
        out["state.out_bytes_per_in_byte"] = tree_bytes(self.out, ".parquet") / tree_bytes(
            self.corpus, ".parquet"
        )
        batches = pq.read_table(self.corpus, columns=["doc_id", "spans"]).to_batches(
            max_chunksize=1024
        )
        with rec.span("kernels.udf"):
            t = time.perf_counter()
            rows = sum(b.num_rows for b in extract_spans_batches_arrow(iter(batches)))
            out["kernels.udf_s"] = time.perf_counter() - t
        if rows != self.expected["spans"]:
            raise RuntimeError(f"in-process kernel emitted {rows} spans")
        with rec.span("job.extract_count"):
            t = time.perf_counter()
            extract_spans(self.df).count()
            out["job.extract_count_s"] = time.perf_counter() - t
        with rec.span("job.exchange_count"):
            t = time.perf_counter()
            repartition_for_bucketed_write(
                with_partition_bucket(self.df, self.buckets), self.buckets
            ).count()
            out["job.exchange_count_s"] = time.perf_counter() - t
        if out["state.unaccounted_share"] > STATE_SLACK:
            raise RuntimeError(
                f"write + ledger leave {out['state.unaccounted_share']:.0%} of the "
                f"job's wall time unaccounted, above the {STATE_SLACK:.0%} slack"
            )
        return out


class DedupMaintain:
    """Absorb one landed append partition: bring the shingles and winnow
    signature tables, the fp-bucketed mirror, the durable pairs table and
    the cluster labels current."""

    name = "dedup_maintain"
    # The signature tables fold add-dirs into one version after 8 appends,
    # which voids the pair delta's provenance; stay below that.
    max_appends = 7

    def __init__(self, spark, work, seed, base_docs=2000, append_docs=200):
        self.spark, self.work, self.seed = spark, work, seed
        self.base_docs, self.append_docs = base_docs, append_docs
        self.op_bytes: list = []

    def setup(self, rec):
        from deed_ocr_spark.signatures import (
            SHINGLES,
            WINNOW_FPS,
            ensure_bucketed_signature_table,
            ensure_dup_pairs_table,
            ensure_signature_table,
        )

        self.corpus = os.path.join(self.work, "corpus")
        self.sigcache = os.environ["SPARK_GRAFT_SIG_CACHE"]
        quarter = self.base_docs // 4
        for k in range(4):
            textcorpus.land_part(
                self.corpus, k * quarter, (k + 1) * quarter, self.seed, f"base-{k}"
            )
        with rec.span("signatures.build"):
            ensure_signature_table(self.spark, self.corpus, SHINGLES)
            ensure_signature_table(self.spark, self.corpus, WINNOW_FPS)
        with rec.span("signatures.mirror_build"):
            ensure_bucketed_signature_table(self.spark, self.corpus, WINNOW_FPS, key="fp")
        with rec.span("signatures.pairs_table_build"):
            ensure_dup_pairs_table(self.spark, self.corpus)
        # The base labels are the planted clusters; the first append's check
        # verifies the program's incremental labelling built on them. Set-up
        # runs no full components pass and no warm-up append: each costs
        # 15-30 s, mostly fixed per-action cost in connected_components,
        # which the run budget cannot hold.
        self.pairs = textcorpus.planted_twins(0, self.base_docs)
        self.labels = self.spark.createDataFrame(
            sorted(_labels_of(self.pairs)), "doc_id long, component long"
        ).localCheckpoint(eager=True)
        self.hi = self.base_docs
        self.appends = 0

    def prepare(self):
        from deed_ocr_spark.signatures import WINNOW_FPS, processed_parts

        self.snap = processed_parts(self.spark, self.corpus, WINNOW_FPS)
        self.lo, self.hi = self.hi, self.hi + self.append_docs
        self.appends += 1
        self.landed = textcorpus.land_part(
            self.corpus, self.lo, self.hi, self.seed, f"append-{self.appends:03d}"
        )
        self.before = listing(self.sigcache)
        os.sync()

    def op(self, rec):
        from deed_ocr_spark.queries.components import dup_components_incremental
        from deed_ocr_spark.signatures import (
            SHINGLES,
            WINNOW_FPS,
            ensure_bucketed_signature_table,
            ensure_signature_table,
        )

        with rec.span("signatures.append_shingles"):
            ensure_signature_table(self.spark, self.corpus, SHINGLES)
        with rec.span("signatures.append_winnow"):
            ensure_signature_table(self.spark, self.corpus, WINNOW_FPS)
        with rec.span("signatures.mirror_refresh"):
            ensure_bucketed_signature_table(self.spark, self.corpus, WINNOW_FPS, key="fp")
        with rec.span("components.incremental"):
            labels = dup_components_incremental(
                self.spark, self.corpus, self.labels, self.snap
            ).localCheckpoint(eager=True)
        return labels

    def check(self, labels):
        from deed_ocr_spark.signatures import ensure_dup_pairs_table, read_signature_table

        after = listing(self.sigcache)
        self.op_bytes.append(
            sum(v[0] for p, v in after.items() if self.before.get(p) != v)
        )
        problems = []
        ver = ensure_dup_pairs_table(self.spark, self.corpus)
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in read_signature_table(self.spark, ver).select("doc_a", "doc_b").collect()
        }
        added, retracted = pairs - self.pairs, self.pairs - pairs
        planted = textcorpus.planted_twins(self.lo, self.hi)
        if added != planted:
            problems.append(f"added pairs {len(added)} != planted twins {len(planted)}")
        if retracted:
            problems.append(f"{len(retracted)} pairs retracted")
        got = {(r["doc_id"], r["component"]) for r in labels.collect()}
        want = _labels_of(self.pairs | planted)
        if got != want:
            problems.append(
                f"labels: {len({c for _, c in got})} clusters over {len(got)} docs, "
                f"planted {len(want) // 2} clusters over {len(want)} docs"
            )
        self.pairs = pairs
        self.labels = labels
        return problems

    def can_continue(self):
        return self.appends < self.max_appends

    def layers(self, rec):
        from deed_ocr_spark.queries import QUERIES
        from deed_ocr_spark.queries.components import connected_components
        from deed_ocr_spark.signatures import winnow_dup_pairs_delta

        out = {
            key + "_s": median_or_zero(rec.seconds(key))
            for key in (
                "signatures.append_shingles",
                "signatures.append_winnow",
                "signatures.mirror_refresh",
                "components.incremental",
            )
        }
        append_bytes = os.path.getsize(self.landed)
        out["signatures.bytes_written_per_append_byte"] = (
            median_or_zero(self.op_bytes) / append_bytes
        )
        out["signatures.space_per_corpus_byte"] = tree_bytes(self.sigcache) / tree_bytes(
            textcorpus.docs_dir(self.corpus)
        )
        out["signatures.files_live"] = len(listing(self.sigcache))
        # the last append's pair delta again, now run to counts on its own
        with rec.span("signatures.pairs_delta"):
            t = time.perf_counter()
            added, retracted = winnow_dup_pairs_delta(self.spark, self.corpus, self.snap)
            n_added, n_retracted = added.count(), retracted.count()
            out["signatures.pairs_delta_s"] = time.perf_counter() - t
        planted = textcorpus.planted_twins(self.lo, self.hi)
        if (n_added, n_retracted) != (len(planted), 0):
            raise RuntimeError(f"pair delta {n_added}/{n_retracted} != {len(planted)}/0")
        twins = textcorpus.planted_twins(0, self.hi)
        found = {}
        for q, key in (
            ("d13_winnow_dup_pairs", "textpipe.d13"),
            ("d7_ngram_jaccard_pairs", "textpipe.d7"),
            ("d9_minhash_band_pairs", "textpipe.d9"),
        ):
            with rec.span(f"{key}.first"):  # builds the query's mirrors
                first = digest(QUERIES[q](self.spark, self.corpus))
            with rec.span(key):
                t = time.perf_counter()
                df = QUERIES[q](self.spark, self.corpus)
                df.count()
                out[key + "_s"] = time.perf_counter() - t
            if digest(df) != first:
                raise RuntimeError(f"{q} differs from its first run")
            found[q] = {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}
        # winnowing recalls every planted twin; the MinHash bands (2 bands of
        # 2 rows) miss a twin now and then, so d7 and d9 are only required
        # to report no pair that was not planted
        if found["d13_winnow_dup_pairs"] != twins:
            raise RuntimeError("d13 pairs differ from the planted twins")
        if not found["d7_ngram_jaccard_pairs"] <= found["d9_minhash_band_pairs"] <= twins:
            raise RuntimeError("d7/d9 report pairs that were not planted")
        out["textpipe.lsh_recall"] = len(found["d9_minhash_band_pairs"]) / len(twins)
        d7 = self.spark.createDataFrame(
            sorted(found["d7_ngram_jaccard_pairs"]), "doc_a long, doc_b long"
        ).localCheckpoint(eager=True)
        stats: dict = {}
        with rec.span("components.cc"):
            t = time.perf_counter()
            comp = connected_components(d7, stats=stats).localCheckpoint(eager=True)
            out["components.cc_s"] = time.perf_counter() - t
        out["components.rounds"] = stats["rounds"]
        if {tuple(r) for r in comp.collect()} != _labels_of(found["d7_ngram_jaccard_pairs"]):
            raise RuntimeError("connected_components over d7 pairs differs from their clusters")
        return out


def _labels_of(pairs) -> set:
    """(doc_id, component) of disjoint twin pairs: each pair is a cluster
    labelled by its smaller doc id."""
    return {(a, a) for a, _ in pairs} | {(b, a) for a, b in pairs}


WORKLOADS = {w.name: w for w in (ExtractJob, DedupMaintain)}
