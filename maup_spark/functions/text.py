"""Text-analysis operators for the web-page corpus.

All JVM-side built-ins (split/length/md5/window) — zero Python in these
paths; each has a closed-form ANSI-SQL oracle (maup_spark.queries).
The reference has no text surface (maup is geometry-only); these are
the training-data-pipeline extensions the web-scale graft requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# English stopwords probed by the n-gram language heuristic.  Counting
# ` word ` occurrences via length arithmetic keeps the op codegen'd and
# SQL-portable (no regex engine differences between engines).
_STOPWORDS = ("the", "and", "data", "table", "query")


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: lengths, token stats, stopword ratio."""
    t = F.col(text_col)
    n_tokens = F.size(F.split(t, " "))
    n_chars = F.length(t)
    n_spaces = n_chars - F.length(F.replace(t, F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        n_chars.alias("len_chars"),
        n_tokens.alias("n_tokens"),
        n_spaces.alias("n_spaces"),
        ((n_chars - n_spaces).cast("double") / n_tokens).alias("avg_token_len"),
    )


def _count_word(text, word: str):
    """Occurrences of ``word`` as a token, via length arithmetic (the
    padded-text trick makes boundary tokens match too)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    probe = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(probe), F.lit(""))))
        / len(probe)
    ).cast("long")


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-count language heuristic: 'en' iff any probe stopword
    occurs, else 'und'."""
    t = F.col(text_col)
    score = None
    for w in _STOPWORDS:
        c = _count_word(t, w)
        score = c if score is None else score + c
    return docs.select(
        "doc_id",
        score.alias("stopword_hits"),
        F.when(score > 0, F.lit("en")).otherwise(F.lit("und")).alias("lang_pred"),
    )


_PUNCT = (".", ",", "!", "?", ";", ":")


def quality_score(docs: DataFrame, text_col: str = "text",
                  keep_cols: tuple = ()) -> DataFrame:
    """Composite document quality gate (the classic pre-training
    filters: length band, punctuation density, stopword density, mean
    token length) — 100% codegen, scaled-BIGINT score so the result is
    hash-stable cross-engine.

    score_e6 = round(1e6 * (0.4*len_ok + 0.3*min(1, 10*punct_ratio)
                            + 0.3*min(1, 20*stop_ratio)))
    with len_ok = 1 if 64 <= len_chars <= 100000 else 0.
    keep = score_e6 >= 500000.

    ``keep_cols``: extra Columns appended to the output projection
    (e.g. a fingerprint for a downstream keep-best pass) so callers
    stay one-pass instead of re-joining on doc_id."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(F.split(t, " ")).cast("double")
    punct = None
    for p in _PUNCT:
        c = F.length(t) - F.length(F.replace(t, F.lit(p), F.lit("")))
        punct = c if punct is None else punct + c
    stop = None
    for w in _STOPWORDS:
        c = _count_word(t, w)
        stop = c if stop is None else stop + c
    len_ok = F.when((n_chars >= 64) & (n_chars <= 100000), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    punct_ratio = punct.cast("double") / n_tokens
    stop_ratio = stop.cast("double") / n_tokens
    score = (
        F.lit(0.4) * len_ok
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(10.0) * punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(20.0) * stop_ratio)
    )
    score_e6 = F.round(score * F.lit(1.0e6)).cast("bigint")
    return docs.select(
        "doc_id",
        punct.cast("long").alias("n_punct"),
        score_e6.alias("score_e6"),
        (score_e6 >= 500000).alias("keep"),
        *keep_cols,
    )


def doc_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint (md5 hex — stable across engines)."""
    return docs.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("fingerprint"),
        F.md5(F.substring(F.col(text_col), 1, 64)).alias("prefix_fingerprint"),
    )


def repetition_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    quality-filter family): duplicate-token fraction and top-bigram
    fraction, emitted as scaled BIGINTs (engine-portable).

    - ``dup_token_frac``: 1 − |distinct tokens| / |tokens| — one-pass
      JVM (`array_distinct`), no explode, no shuffle.
    - ``top_bigram_frac``: occurrences of the most frequent bigram /
      total bigrams — computed as the longest equal-run of the SORTED
      bigram array via a higher-order-function fold: zero shuffles,
      zero explodes, one projection per doc.  (A first cut exploded
      bigrams into a (doc, bigram) hash-agg: 14.3 s at 10^6 docs vs
      0.5 s for the fold — the oracle keeps the explode formulation,
      which is the clearer spec.)
    A crawl pipeline drops docs above thresholds on either (boilerplate
    listings, keyword stuffing, template pages)."""
    from .grams import gram_array_sql

    toks = f"split({text_col}, ' ')"
    bigrams = gram_array_sql(toks, 2)
    # longest run of equal adjacent elements in the sorted array ==
    # max bigram multiplicity; null-safe <=> seeds the fold with NULL
    max_run = (
        f"""aggregate(
               array_sort({bigrams}),
               named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
               (acc, x) -> named_struct(
                   'prev', x,
                   'run', IF(x <=> acc.prev, acc.run + 1, 1),
                   'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))),
               acc -> acc.best)"""
    )
    base = docs.selectExpr(
        "doc_id",
        f"size({toks}) AS __n",
        f"size(array_distinct({toks})) AS __nd",
        f"size({bigrams}) AS __nbg",
        f"{max_run} AS __maxbg",
    )
    dup_frac = 1.0 - F.col("__nd") / F.col("__n")
    top_frac = F.when(F.col("__nbg") > 0, F.col("__maxbg") / F.col("__nbg")).otherwise(
        F.lit(0.0)
    )
    return base.select(
        "doc_id",
        F.round(dup_frac * 1e6).cast("bigint").alias("dup_token_frac_e6"),
        F.round(top_frac * 1e6).cast("bigint").alias("top_bigram_frac_e6"),
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    max_doc_freq: int = 2,
) -> DataFrame:
    """Corpus-level LINE deduplication (the CCNet/RefinedWeb boilerplate
    pass): a line appearing in more than ``max_doc_freq`` DISTINCT
    documents is boilerplate (nav bars, cookie banners, footers) and is
    removed from every document; surviving lines are reassembled in
    their original order.

    Shape: posexplode(lines) → distinct (line-hash, doc) → hash-agg doc
    frequency → broadcast-or-shuffle anti-join of hot lines →
    array_sort struct reassembly.  Everything is JVM; the only wide
    exchanges are the doc-frequency agg and the per-doc reassembly agg,
    both map-side combining.  Returns (doc_id, text) with boilerplate
    lines stripped (a doc that was ALL boilerplate keeps an empty
    text)."""
    # F.split takes a Java REGEX; sep is a literal separator, so quote it
    # (\Q..\E, Pattern.quote semantics) — an unquoted '.' or '|' would
    # silently split on the wrong boundaries while array_join reassembles
    # with the literal sep
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), sep_rx)).alias("pos", "line"),
    ).withColumn("__h", F.md5(F.col("line")))
    freq = (
        lines.select("__h", "doc_id")
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__h")
    )
    kept = lines.join(freq, "__h", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias(text_col)
    )
    return docs.select("doc_id").join(rebuilt, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-MIXTURE step of a
    training pipeline (upsample rare languages / downsample crawl
    boilerplate sources to hit a target distribution).

    A row survives iff u(id) < fractions[stratum], where u is a 60-bit
    md5-derived uniform in [0, 1).  Pure filter: no shuffle, no RNG
    state, identical output at any parallelism / any engine (the same
    arithmetic is ANSI SQL — the driver oracle recomputes it), and
    re-running on a grown corpus keeps previously-sampled rows sampled
    (consistent hashing, so downstream caches stay valid).

    ``fractions`` maps stratum value → keep fraction; unlisted strata
    get ``default_fraction``."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col), F.lit(f"#{salt}"))), 1, 15),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    frac = F.lit(default_fraction)
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(frac)
    return docs.filter(u < frac)


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — k rows
    with inclusion probability proportional to ``weight_col``
    (Efraimidis–Spirakis A-Res: rank by key_i = -ln(u_i)/w_i, keep the
    k smallest; the key is Exp(w_i)-distributed, so the minimum wins a
    race with probability w_i / sum w — the exact weighted-sampling
    semantics).

    u_i is the 60-bit md5-derived uniform of ``stratified_sample``
    (consistent hashing: the same row keeps the same key on a re-run or
    a grown corpus — only boundary rows change as competitors arrive).
    No RNG state, no shuffle beyond the distributed top-K:
    ``orderBy(key, id).limit(k)`` plans TakeOrderedAndProject
    (per-partition top-k + driver merge of k·n_partitions rows — never
    a global sort; the bpe_train_merges round-4 lesson).  The ranking
    key is dropped from the output so cross-engine float comparison
    happens only through the ORDER (two keys within 1 ulp of each
    other — probability ~0 for continuous hashes — is the only way
    engines could disagree, vs the per-value grid-rounding hazard a
    key column would reintroduce).

    Rows with weight <= 0 are excluded (ln-race semantics need w > 0).
    u_i = 0 (an all-zero md5 prefix, probability 2^-60) is clamped to
    2^-60 before the log: Spark's ``F.log(0)`` returns NULL (which
    sorts FIRST ascending — the row would win the race) while DuckDB's
    ``-ln(0)`` is +inf (sorts last) — the clamp gives both engines the
    same largest-finite key, deterministically last."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col), F.lit(f"#{salt}"))), 1, 15),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    u = F.greatest(u, F.lit(2.0 ** -60))
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("__k", key)
        .orderBy("__k", id_col)
        .limit(k)
        .drop("__k")
    )


BPE_PRETOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


def bpe_token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counts for budget accounting: whitespace tokens AND a
    BPE-ish pretokenizer count (the GPT-2 pretokenizer shape — optional
    leading space + letter runs | digit runs | punctuation runs |
    whitespace — restricted to an RE2-compatible subset with no
    lookahead, so the SAME pattern runs verbatim in Spark's Java regex
    and the oracle's RE2).  The pretokenizer count upper-bounds real
    BPE token counts and tracks them closely for budget planning; an
    actual merge-table encode is a model artifact, not an engine op.

    Pure projection (regexp_extract_all + size) — codegen, no shuffle."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(F.split(t, " ")).alias("n_ws_tokens"),
        F.size(
            F.expr(f"regexp_extract_all({text_col}, '{BPE_PRETOKEN_RE}', 0)")
        ).alias("n_bpe_tokens"),
    )


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
) -> DataFrame:
    """Dedup-key text normalization (the Lee et al. ExactSubstr / C4
    preprocessing step): lowercase, strip everything that is not a
    letter / digit / whitespace, collapse whitespace runs to one
    space, trim.  Appends ``out_col``; pure codegen projection — zero
    shuffle, a free rider on any scan at 10^12 pages.

    The character classes are the Unicode-property forms ``\\p{L}`` /
    ``\\p{N}``, interpreted identically by Java regex (Spark) and RE2
    (DuckDB) — no lookaround/backrefs, so the normalized bytes are
    engine-portable (proved by the md5 driver oracle).  PINNED-TABLE
    CAVEAT: "identically" holds only for codepoints present in the
    OLDEST Unicode table among the engines in play (Java 17 ships
    Unicode 13.0; CPython 3.11 ships 14.0; RE2 tracks its build's
    ICU).  A codepoint assigned as a letter AFTER an engine's table
    (e.g. U+A7D0, new in 14.0) is stripped by that engine and kept by
    newer ones, so cross-engine hash parity of the normalized text is
    guaranteed only for corpora over age-stable codepoints.  Real web
    corpora are overwhelmingly age-stable; if exact parity on bleeding
    -edge codepoints matters, pre-filter the corpus or pin all engines
    to one Unicode version.  Note ``\\s``
    is the ASCII class in BOTH engines (neither enables Unicode
    character classes), so non-ASCII whitespace (NBSP, U+2028, ...)
    is STRIPPED like punctuation rather than collapsed to a space —
    fine for a dedup key, surfaced by the hypothesis fuzz
    (tests/test_text_fuzz.py).  Normalization
    is idempotent: the output alphabet (lowercase letters, digits,
    single spaces) is a fixed point of every step — tested.

    Use BEFORE fingerprinting/minhash so near-dups differing only in
    case/punctuation/spacing collapse to one key (the reference
    pipeline's normalization placement).
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.col(text_col)), r"[^\p{L}\p{N}\s]+", ""
            ),
            r"\s+",
            " ",
        )
    )
    return docs.withColumn(out_col, norm)


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with ``overlap``
    carried between consecutive chunks (the trainer-facing complement
    of ``pack_shards``: packing concatenates short docs, chunking
    splits long ones).  Chunk ``i`` covers tokens
    ``[i*stride, i*stride + max_tokens)`` with
    ``stride = max_tokens - overlap``; starts are emitted while they
    fall inside the document, so every token lands in >= 1 chunk and
    consecutive chunks share exactly ``overlap`` tokens (fewer only at
    the tail).

    Returns DataFrame[id_col, chunk_idx, chunk_text, n_chunk_tokens].
    Pure projection + explode over the repo-wide split-on-space
    grammar — zero shuffle at any corpus size, deterministic at any
    parallelism (chunk_idx is a function of the row alone)."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # chunk starts i*stride for i = 0 .. floor((n-1)/stride)
    idx = F.explode(
        F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int"))
    )
    out = docs.select(F.col(id_col), toks.alias("__t"), idx.alias("chunk_idx"))
    chunk = F.slice(
        F.col("__t"), F.col("chunk_idx") * stride + 1, max_tokens
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


def length_histogram(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus length distribution in power-of-two character buckets:
    DataFrame[bucket, lo_chars, n_docs] where ``bucket =
    floor(log2(len+1))`` (empty docs land in bucket 0) and ``lo_chars
    = 2^bucket - 1`` is the bucket's inclusive lower edge — the
    length-filter thresholds (quality_score's 64..100k band) are
    sanity-checked against this table.

    ONE map-side-combinable hash-agg over at most ~40 buckets (the
    key space is bounded by the max document length's log); integer
    everywhere, so hash-stable cross-engine."""
    b = (F.length(F.bin(F.length(F.col(text_col)) + 1)) - 1).cast("long")
    return (
        docs.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "bucket",
            (F.pow(F.lit(2.0), F.col("bucket")).cast("long") - 1).alias("lo_chars"),
            "n_docs",
        )
    )
