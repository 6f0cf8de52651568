"""DSIR-style importance resampling for pretraining-data selection
(Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023 — public paper), rebuilt cross-engine-exact.

DSIR fits bag-of-hashed-n-gram unigram models on a small TARGET corpus
(the distribution you want more of — wiki/books/curated text) and on
the RAW crawl, then scores every raw document by its importance ratio

    log p_target(x) - log p_raw(x)
      = sum over hashed-gram occurrences b in x of (log p_b - log q_b)

and keeps a sample biased toward high-ratio (target-like) documents.
Features are whitespace unigrams + bigrams hashed into a fixed bucket
space, exactly as in the paper.

Integer-exact variant (the functions/lm.py lesson: float log sums are
summation-order-dependent, so cross-engine/partition-order hashes
drift): replace ``log cnt`` with the integer familiarity

    fam(cnt) = floor(log2(cnt + 1)) = length(bin(cnt + 1)) - 1

(+1 is the add-one smoothing that keeps empty buckets finite), so

    score(doc) = sum over gram occurrences of (fam_p[b] - fam_q[b])

is an exact BIGINT — bit-identical at any parallelism and mirrored
token-for-token by a DuckDB oracle (``bin`` emits the minimal binary
string in both engines).  The monotone map cnt -> floor(log2(cnt+1))
preserves the target-like-vs-junk ordering DSIR selects on; only the
absolute scale differs from the float log-ratio.

Scale design (10^12 raw docs, 10^5-10^7 target docs):
- ``hashed_gram_counts``: explode unigrams+bigrams -> 48-bit-md5
  bucket -> ONE map-side-combinable hash aggregation over at most
  ``n_buckets`` distinct keys (a corpus-wide hot bucket is absorbed by
  partial combine — never a per-key window).
- ``dsir_ratio``: the (target, raw) count tables are each at most
  ``n_buckets`` rows by construction — the full-outer join runs on
  bounded inputs and the ratio table BROADCASTS downstream.
- ``dsir_score``: explode -> broadcast ratio join -> one per-doc
  map-side-combinable aggregation.  Zero windows, zero Python, and the
  only unbounded shuffle is keyed by doc_id (no hot key exists).
- ``dsir_select``: ``orderBy(score DESC, id).limit(k)`` ->
  TakeOrderedAndProject (per-partition top-K + driver merge — never a
  single-partition global sort), deterministic tie-break on id.

No reference counterpart (maup is geometry-only,
/root/reference/maup/__init__.py:28-45); this is part of the
training-data-pipeline surface the web-scale graft requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .webtext import _word_grams

DEFAULT_BUCKETS = 8192


def _grams12(text_col) -> "F.Column":
    """Unigram + bigram features over the repo-wide whitespace-token
    grammar (``_word_grams``: split on ' ', short-doc guard)."""
    return F.concat(_word_grams(text_col, 1), _word_grams(text_col, 2))


def _bucket(gram_col, n_buckets: int, hash_fn: str = "md5") -> "F.Column":
    """Hash bucket of a gram.

    ``hash_fn="md5"`` (default): 48-bit md5-prefix — the repo's
    consistent-hash idiom, mirrored exactly by DuckDB
    (``CAST(concat('0x', substr(md5(g),1,12)) AS BIGINT) %
    n_buckets``); 12 hex digits < 2^48 so the BIGINT is always
    non-negative and ``%`` agrees across engines.  This is the
    oracle-checkable config.

    ``hash_fn="xxhash64"``: one JVM codegen intrinsic instead of md5
    hex + string slice + base conversion.  Measured at 10^6 docs x ~79
    grams/doc: the gap is cold-start, not steady-state — first run in
    a fresh JVM 60 s vs 204 s (the md5-hex chain's JIT/codegen
    warm-up), but in a warmed JVM both run ~52 s (the explode +
    hash-agg dominates, not the hash).  Spark-only (DuckDB has no
    xxhash64), so the driver oracle keeps md5; both models and the
    scorer must simply use the SAME hash_fn."""
    if hash_fn == "md5":
        return (
            F.conv(F.substring(F.md5(gram_col), 1, 12), 16, 10).cast("long")
            % n_buckets
        )
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(gram_col), F.lit(n_buckets)).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r} (want 'md5' or 'xxhash64')")


def _fam(cnt_col) -> "F.Column":
    """floor(log2(cnt + 1)) as an exact BIGINT; cnt NULL -> fam(0) = 0."""
    return (
        F.length(F.bin(F.coalesce(cnt_col, F.lit(0)) + F.lit(1))) - 1
    ).cast("long")


def bucketed_grams(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    hash_fn: str = "md5",
    id_col: str | None = None,
) -> DataFrame:
    """DataFrame[(id_col,)? bucket] — one row per hashed-gram
    OCCURRENCE.  The shared front half of model counting and document
    scoring: persist this once and both ``counts_from_buckets`` and
    ``dsir_score`` consume it, so the corpus-wide explode + md5 chain
    (the dominant cost — ~79 gram rows/doc) runs ONE time instead of
    once per consumer."""
    cols = [F.col(id_col)] if id_col else []
    grams = docs.select(
        *cols, F.explode(_grams12(F.col(text_col))).alias("gram")
    )
    keep = [id_col] if id_col else []
    return grams.select(
        *keep, _bucket(F.col("gram"), n_buckets, hash_fn).alias("bucket")
    )


def counts_from_buckets(bucketed: DataFrame) -> DataFrame:
    """``hashed_gram_counts`` from a pre-bucketed occurrence table —
    one map-side-combinable hash-agg over <= n_buckets keys."""
    return bucketed.groupBy("bucket").agg(F.count("*").alias("cnt"))


def hashed_gram_counts(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    hash_fn: str = "md5",
) -> DataFrame:
    """DataFrame[bucket, cnt] — hashed unigram+bigram occurrence counts
    of a corpus, at most ``n_buckets`` rows (broadcastable downstream).

    ONE explode + map-side-combinable hash-agg; the bounded key space
    means even a degenerate single-gram corpus cannot create a task-
    serializing hot key (partial combine collapses it per partition)."""
    return counts_from_buckets(
        bucketed_grams(docs, text_col, n_buckets, hash_fn)
    )


def dsir_ratio(target_counts: DataFrame, raw_counts: DataFrame) -> DataFrame:
    """DataFrame[bucket, w] — the integer log-ratio table
    ``w = fam(cnt_target) - fam(cnt_raw)`` over the union of buckets.

    Both inputs are ``hashed_gram_counts`` outputs (<= n_buckets rows),
    so the full-outer join is bounded and the result broadcasts."""
    p = target_counts.select("bucket", F.col("cnt").alias("cnt_p"))
    q = raw_counts.select("bucket", F.col("cnt").alias("cnt_q"))
    return p.join(q, "bucket", "full_outer").select(
        "bucket", (_fam(F.col("cnt_p")) - _fam(F.col("cnt_q"))).alias("w")
    )


def dsir_score(
    raw_docs: DataFrame,
    ratio: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """DataFrame[id_col, n_grams, score] — per-document integer
    importance score under a ``dsir_ratio`` table built with the SAME
    ``n_buckets``.  Explode -> BROADCAST ratio join -> one per-doc
    aggregation; every document emits a row (the unigram list is
    non-empty even for empty text under the split-on-space grammar).

    Pass ``bucketed`` (a persisted ``bucketed_grams(raw_docs,
    id_col=...)``) to reuse an explode the raw model counting already
    paid for — the train+score fixed-cost cut: one corpus scan feeds
    both the model and the scorer."""
    if bucketed is None:
        grams = raw_docs.select(
            F.col(id_col), F.explode(_grams12(F.col(text_col))).alias("gram")
        )
        bucketed = grams.select(
            id_col, _bucket(F.col("gram"), n_buckets, hash_fn).alias("bucket")
        )
    j = bucketed.join(F.broadcast(ratio), "bucket", "left")
    return j.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("score"),
    )


def dsir_select(
    scored: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` most target-like documents, ties broken by lowest id —
    deterministic at any parallelism (TakeOrderedAndProject)."""
    return scored.orderBy(F.desc("score"), id_col).limit(k)


def merge_gram_counts(*counts: DataFrame) -> DataFrame:
    """Additive merge of ``hashed_gram_counts`` outputs (counts over
    disjoint corpus slices sum exactly) — the incremental-model-refresh
    path: count yesterday's crawl delta, merge with the running raw
    model, rebuild the ratio, never rescan the full corpus.

    Union + ONE hash-agg over the bounded (<= n_buckets) key space;
    inputs must share the same n_buckets and hash_fn (counts are
    meaningless to merge otherwise — the caller's contract, same as
    dsir_score's)."""
    if not counts:
        raise ValueError("merge_gram_counts needs at least one input")
    merged = counts[0]
    for c in counts[1:]:
        merged = merged.unionByName(c)
    return merged.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def source_divergence(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-source distribution drift: the EXACT integer L1 distance
    between each source's hashed-gram distribution and the whole
    corpus — the governance report that flags an outlier source
    (scraped boilerplate, wrong language, contamination) before it
    ships in a mixture.

    With per-source gram mass ``T_s``, corpus mass ``T``, counts
    ``c_sb``/``c_b``:

        L1_scaled(s) = sum over buckets b of |c_sb*T - c_b*T_s|
                     = T*T_s + sum over b IN s of (|c_sb*T - c_b*T_s|
                                                   - c_b*T_s)

    (the identity folds every bucket the source never hits into the
    closed-form ``T*T_s`` term, so NO source x bucket cross join is
    ever built).  The true L1 on normalized distributions is
    ``L1_scaled / (T*T_s)`` in [0, 2] — left as an exact integer
    numerator (``decimal(38,0)``: products reach ~10^28 at web scale,
    bigint overflows) so the result is bit-identical cross-engine;
    divide downstream if a float is wanted.

    Shape: one explode -> (source, bucket) hash-agg (bounded by
    n_sources x n_buckets) -> corpus bucket table (<= n_buckets rows)
    BROADCAST back -> per-source agg.  Zero windows, zero Python.

    The corpus-wide sums come first, in ONE eager job: grouping sets
    (bucket) / (source) / () over the (source, bucket) counts give the
    corpus bucket counts ``cb``, the per-source totals ``ts`` and the
    grand total ``T`` — at most n_buckets + n_sources + 1 rows, which
    come back to the driver and re-enter the plan as local relations.
    Each of the three, planned as its own consumer of the (source,
    bucket) table, would re-run the corpus-wide explode + md5 chain (the
    dominant cost); here the corpus is scanned twice per call, once by
    that job and once when the result is collected.  Nothing is cached
    or checkpointed, so the call leaves no persistent RDD behind.

    Returns DataFrame[source, n_grams, l1_scaled] (both exact)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    grams = docs.select(
        F.col(source_col).alias("source"),
        F.explode(_grams12(F.col(text_col))).alias("gram"),
    )
    b = grams.select(
        "source", _bucket(F.col("gram"), n_buckets, hash_fn).alias("bucket")
    )
    sb = b.groupBy("source", "bucket").agg(F.count("*").alias("c_sb"))
    # grouping_id(bucket, source): 1 = per bucket, 2 = per source, 3 = all
    sums = (
        sb.groupingSets([["bucket"], ["source"], []], "bucket", "source")
        .agg(F.sum("c_sb").alias("n"), F.grouping_id().alias("g"))
        .collect()
    )
    spark = docs.sparkSession

    def local(g, key, name):
        """Grouping set ``g`` as a local relation (key, name); a NULL key
        would find no join partner, so it is left out."""
        pdf = pd.DataFrame(
            [(r[key], r["n"]) for r in sums if r["g"] == g and r[key] is not None],
            columns=[key, name],
        )
        schema = StructType([sb.schema[key], StructField(name, LongType())])
        return spark.createDataFrame(pdf, schema)

    cb = local(1, "bucket", "c_b")
    ts = local(2, "source", "T_s")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    T = F.lit(next((r["n"] for r in sums if r["g"] == 3), None)).cast(
        "decimal(38,0)"
    )
    j = sb.join(F.broadcast(cb), "bucket").join(F.broadcast(ts), "source")
    term = F.abs(dec("c_sb") * T - dec("c_b") * dec("T_s")) - (
        dec("c_b") * dec("T_s")
    )
    agg = j.groupBy("source").agg(
        F.sum(term).alias("__partial"), F.first("T_s").alias("T_s")
    )
    return agg.select(
        "source",
        F.col("T_s").alias("n_grams"),
        (T * dec("T_s") + F.col("__partial")).alias("l1_scaled"),
    )
