"""Deduplication operators for the training-data pipeline.

Five tiers, cheapest first:
- exact: hash-groupBy on md5(text) — one shuffle on the 16-byte digest.
- tokenset: md5 over the sorted distinct token set (order/dup-insensitive).
- minhash + LSH: shingle → per-seed min-hash → band buckets → candidate
  pairs meet only inside a bucket (no quadratic comparison). Hashing uses
  md5 hex strings so an external SQL oracle reproduces signatures exactly.
- simhash: 64-bit locality hash from per-token md5 bits.
- embedding cosine: near-dup pairs above a cosine threshold over an
  ``array<float>`` embedding column.

Scale: every step is explode + groupBy (linear, shuffle on bounded keys).
At 100 TB, band buckets are the only potentially-skewed key (a viral shingle
set); the pair join uses AQE skew splitting, and bucket sizes can be capped
with a count filter before the self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    hashed_token_shingles, token_shingles, tokens, tokenset_fingerprint,
)
from ..functions.vectors import dot, norm


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct content, keeper = min id."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def tokenset_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup tier 1: identical token SETS (reordered/repeated tokens)."""
    return (
        df.groupBy(tokenset_fingerprint(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


#: Mersenne prime 2^31 - 1: affine products stay under 2^62 (no long overflow
#: in Spark, no HUGEINT needed in an external SQL oracle).
MINHASH_PRIME = 2147483647


def minhash_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) for the universal family h_j(x) = (a_j*x+b_j)
    mod p — reproducible from the seed index alone, so any SQL engine can
    regenerate the exact permutation family."""
    return [
        ((2654435761 * (j + 1)) % MINHASH_PRIME, (40503 * (j + 7)) % MINHASH_PRIME)
        for j in range(num_hashes)
    ]


#: per-(num_hashes, shingle_size) kernel cache — created lazily, same
#: pattern as functions.text._SHINGLE_UDFS
_MINHASH_UDFS: dict = {}


def _minhash_batch(num_hashes: int, shingle_size: int):
    """Vectorized kernel for :func:`minhash_signatures` (one Arrow batch):
    per document, build the n-token shingle strings exactly like
    functions.text._shingle_batch, md5 each shingle ONCE (C-level
    hashlib), take the first 60 digest bits mod p (== Spark's
    ``conv(substring(md5(s),1,15),16,10) % p`` — 15 hex chars = the top
    7.5 bytes, i.e. ``int.from_bytes(d[:8])>>4``), then reduce the k
    affine permutations with ONE segmented ``np.minimum.reduceat`` over
    the batch-flattened shingle array.  All integer math: a_j, b_j, hv
    < p = 2^31-1, so a_j*hv + b_j < 2^62 — exact in int64, identical to
    the JVM expression path (pinned by tests/test_dedup.py)."""
    n = shingle_size
    params = minhash_affine_params(num_hashes)

    def fn(s):
        import hashlib
        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        fb = int.from_bytes
        shingles: list[str] = []
        counts = np.empty(len(s), dtype=np.int64)
        valid = np.ones(len(s), dtype=bool)
        for i, t in enumerate(s):
            if t is None:
                valid[i] = False
                counts[i] = 0
                continue
            toks = t.split(" ")
            m = len(toks) - n + 1
            if m < 1:
                shingles.append(" ".join(toks))
                counts[i] = 1
            else:
                shingles.extend(
                    " ".join(toks[i2:i2 + n]) for i2 in range(m)
                )
                counts[i] = m
        out = np.empty(len(s), dtype=object)
        if shingles:
            hv = np.fromiter(
                (
                    fb(md5(sh.encode("utf-8")).digest()[:8], "big") >> 4
                    for sh in shingles
                ),
                dtype=np.int64,
                count=len(shingles),
            ) % MINHASH_PRIME
            A = np.asarray([a for a, _ in params], dtype=np.int64)[:, None]
            B = np.asarray([b for _, b in params], dtype=np.int64)[:, None]
            perm = (A * hv[None, :] + B) % MINHASH_PRIME
            offsets = np.zeros(int(valid.sum()), dtype=np.int64)
            np.cumsum(counts[valid][:-1], out=offsets[1:])
            mins = np.minimum.reduceat(perm, offsets, axis=1)
            vi = 0
            for i in np.nonzero(valid)[0]:
                out[i] = mins[:, vi].tolist()
                vi += 1
        return pd.Series(out)

    return fn


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_size: int = 3,
) -> DataFrame:
    """Per-document minhash signature: each shingle is hashed ONCE
    (md5 → 60-bit int → mod p), then the k permutations are affine integer
    hashes h_j(x) = (a_j*x + b_j) mod p (p = 2^31-1) and mh_j = min over
    shingles.  Output: (id, mh_0..mh_{k-1}) — wide.

    MAP-ONLY (round-10 optimization): the whole signature — shingling,
    md5, affine permutations, per-document min — folds into one Arrow
    kernel per row, so the plan has ZERO shuffle (the previous form
    exploded shingles and re-grouped on the id; partial aggregation kept
    the shuffle small, but the explode pass, the JVM md5-per-row chain
    and the 12-way min-agg codegen were the per-stage cost — and 8+
    catalog queries run this prefix).  The kernel's md5/affine/min math
    is bit-identical to the expression form, which is kept below as
    :func:`minhash_signatures_agg` and pinned value-equal by
    tests/test_dedup.py::test_minhash_kernel_agg_parity; md5-as-base-hash
    keeps the family reproducible in any engine with md5 (the DuckDB
    oracle recomputes identical signatures).  Rows with NULL text drop
    out (the explode form never emitted them); a map-only plan also
    serves an unbounded streaming frame unchanged.
    """
    global _MINHASH_UDFS
    key = (num_hashes, shingle_size)
    if key not in _MINHASH_UDFS:
        from pyspark.sql.types import ArrayType, LongType

        _MINHASH_UDFS[key] = F.pandas_udf(
            _minhash_batch(num_hashes, shingle_size), ArrayType(LongType())
        )
    sig = _MINHASH_UDFS[key](F.col(text_col))
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), sig.alias("_sig"))
        .select(
            id_col,
            *[
                F.element_at(F.col("_sig"), j + 1).alias(f"mh_{j}")
                for j in range(num_hashes)
            ],
        )
    )


def minhash_signatures_agg(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_size: int = 3,
) -> DataFrame:
    """Expression form of :func:`minhash_signatures` (explode + groupBy
    with k parallel min aggregates, map-side partial agg) — kept as the
    cross-implementation parity pin and for sessions where Python workers
    are unavailable.  One explode + ONE shuffle; the digest runs once per
    shingle, min() is duplicate-insensitive."""
    sh = df.select(
        F.col(id_col),
        F.explode(token_shingles(F.col(text_col), shingle_size)).alias("shingle"),
    )
    hv = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
        % MINHASH_PRIME
    )
    hashed = sh.select(F.col(id_col), hv.alias("hv"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("hv") + F.lit(b)) % MINHASH_PRIME).alias(f"mh_{j}")
            for j, (a, b) in enumerate(minhash_affine_params(num_hashes))
        ]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Band the wide signature (rows_per_band = num_hashes/bands) into
    bucket hashes, then expand each bucket's posting list in-row: docs
    sharing any band bucket become a candidate pair (a < b).

    Plan shape: ONE shuffle on the 8-byte (band-salted xxhash) bucket key
    builds the posting list per bucket, then pairs expand IN-ROW (two
    explodes over the same list) and dedupe — no shuffle self-join, and
    singleton buckets (which can never witness a pair) drop before
    expansion.  Same posting-expansion shape as
    :func:`ngram_jaccard_pairs`; a viral bucket is an AQE-skew concern
    only inside one row's |postings|² expansion — bound it upstream by
    bands/rows_per_band choice (more rows per band → smaller buckets)."""
    rows_per_band = num_hashes // bands
    bucket_cols = []
    for b in range(bands):
        members = [
            F.col(f"mh_{j}")
            for j in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        # band id salts the hash so equal member tuples in different bands
        # land in different buckets; 8-byte key replaces the md5 string
        bucket_cols.append(F.xxhash64(F.lit(b), *members))
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*bucket_cols)).alias("bucket")
    )
    # sorted postings + slice expansion emit ordered pairs directly
    # (n(n-1)/2 rows, no n^2-then-filter pass) — same trick as
    # ngram_jaccard_pairs.  array_distinct on the SORTED posting (still
    # sorted: distinct keeps first occurrences) restores the old
    # id_a < id_b guard's defense against duplicate ids — a caller
    # passing a signatures frame with repeated ids would otherwise emit
    # (a, a) self-pairs from the slice expansion; for distinct ids it is
    # an in-row no-op
    grouped = banded.groupBy("bucket").agg(
        F.array_distinct(
            F.array_sort(F.collect_list(F.col(id_col)))
        ).alias("ids")
    )
    return (
        grouped.filter(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("_i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("_i") + 2, F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def banded_signature_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_size: int = 3,
    bands: int = 4,
) -> DataFrame:
    """The storable LSH-index relation: ``(id_col, sig array<long>,
    bucket long)`` — ``bands`` rows per document, each carrying the full
    k-component minhash signature and one band-salted 64-bit bucket hash.

    This is the frame :func:`incremental_lsh_matches` joins the delta
    against; persist it with ``sources.bucketed.write_bucketed(...,
    bucket_cols=["bucket"])`` and steady-state ingest reads it back with
    its distribution metadata intact — the bucket join then shuffles ONLY
    the incoming batch (asserted structurally in
    tests/test_plans.py::test_incremental_dedup_bucketed_index_skips_exchange).
    """
    sig = minhash_signatures(
        df, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_size=shingle_size,
    )
    rows_per_band = num_hashes // bands
    buckets = [
        F.xxhash64(
            F.lit(b),
            *[F.col(f"mh_{j}")
              for j in range(b * rows_per_band, (b + 1) * rows_per_band)],
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{j}") for j in range(num_hashes)]).alias("sig"),
        F.explode(F.array(*buckets)).alias("bucket"),
    )


def banded_match_scores(
    inc_banded: DataFrame,
    index_banded: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
) -> DataFrame:
    """Pair-level scores behind :func:`incremental_lsh_matches`: join two
    :func:`banded_signature_rows` frames on the bucket key and score every
    met pair — ``(id_col, index_id, agree_x100)``, one row per
    SHARED BAND (a pair meeting in several bands repeats with an identical
    deterministic score, so any downstream dedupe/agg is idempotent)."""
    joined = inc_banded.select(
        F.struct(F.col(id_col).alias("id"), F.col("sig").alias("sig")).alias("inc"),
        "bucket",
    ).join(
        index_banded.select(
            F.struct(F.col(id_col).alias("id"), F.col("sig").alias("sig")).alias("idx"),
            "bucket",
        ),
        "bucket",
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("inc.sig"), F.col("idx.sig"),
            lambda x, y: (x == y).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return joined.select(
        F.col("inc.id").alias(id_col),
        F.col("idx.id").alias("index_id"),
        F.floor(agree.cast("double") * 100.0 / float(num_hashes))
        .cast("long").alias("agree_x100"),
    )


def incremental_lsh_matches(
    incoming: DataFrame,
    index: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_size: int = 3,
    bands: int = 4,
    min_agree: float = 0.5,
    index_banded: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus: for each
    incoming document, its best near-duplicate already in the index —
    ``(id_col, index_id, agree_x100)`` where ``agree_x100 = floor(100 *
    |matching signature components| / num_hashes)`` (the unbiased MinHash
    Jaccard estimate as an exact integer), keeping only incoming docs whose
    best match reaches ``min_agree``.  Ties on agreement resolve to the
    smallest index id (deterministic).

    This is the operational dedup shape at 100 TB: the full corpus is
    never re-paired against itself (that is :func:`lsh_candidate_pairs` at
    ingest time); a delta joins against STORED signatures instead.  Mirrors
    the reference's insert-if-absent idiom (data-service upserts keyed on
    existing rows, ``pg.rs`` ``ON CONFLICT DO NOTHING``) lifted from exact
    keys to near-duplicate identity.

    Plan shape: each side is one explode + one map-side-combined groupBy
    (signatures), then band-bucket hashes expand IN-ROW (``bands`` rows per
    doc, each carrying the k-component signature array — k longs, so the
    bucket-join shuffle moves bands*(k+1) longs per doc, no join back to a
    signature table).  The bucket equi-join is a plain shuffle hash join:
    the index side is corpus-sized (never broadcast); in production its
    banded rows live in a table bucketed on the key
    (``sources/bucketed.py``) so only the delta shuffles.  A pair meeting
    in several bands scores identically each time, so the final max-agg
    dedupes without a distinct pass.

    Pass ``index_banded`` (a :func:`banded_signature_rows` frame, e.g. a
    bucketed table read back via ``sources.bucketed.read_bucketed``)
    instead of ``index`` to reuse a STORED index: signatures are then
    computed for the delta only, and a table bucketed on ``bucket``
    contributes no exchange of its own to the join.
    """
    if (index is None) == (index_banded is None):
        raise ValueError("pass exactly one of index / index_banded")

    if index_banded is None:
        index_banded = banded_signature_rows(
            index, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_size=shingle_size, bands=bands,
        )
    inc_banded = banded_signature_rows(
        incoming, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_size=shingle_size, bands=bands,
    )
    scored = banded_match_scores(
        inc_banded, index_banded, id_col=id_col, num_hashes=num_hashes
    )
    # argmax over (agree_x100 DESC, index_id ASC) as a single struct-min:
    # negate the agreement score (always an internal int), never the id —
    # a string-typed id corpus must tie-break identically (round-6 advice).
    best = (
        scored.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("agree_x100")).alias("_na"), F.col("index_id")
                )
            ).alias("_best")
        )
        .select(
            id_col,
            F.col("_best.index_id").alias("index_id"),
            (-F.col("_best._na")).alias("agree_x100"),
        )
    )
    return best.filter(F.col("agree_x100") >= int(min_agree * 100))


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection (the ExactSubstr leg of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, approximated at k-token granularity): every MAXIMAL token
    run of length >= ``k`` whose every k-gram also appears in at least
    ``min_docs`` distinct documents.  Output (id, span_start 1-based
    token index, span_tokens) — the spans a dedup pass would cut, at
    token resolution instead of the paper's suffix-array characters
    (suffix arrays don't distribute; position-keyed k-gram postings do).

    Plan shape: ONE tokenize scan — in-row k-gram keys via
    ``hashed_token_shingles`` (fixed 16-byte hashing per position, no
    gram strings; the usual ~2^-64 identity approximation), posexplode to
    (doc, pos, gram), ``localCheckpoint``-ed ONCE for its two consumers
    (the gram-keyed document-frequency aggregation and the semi-join
    probe cannot exchange-reuse: the agg's exchange carries partial
    aggregates and AQE broadcasts the flagged dim, so without the
    checkpoint the corpus tokenizes twice — measured 2.4 vs 1.3 s at
    sf0.1).  The checkpoint is the (id, pos, gram-hash) stream, ~24
    bytes/token — the same order as the shuffle each consumer writes
    anyway; its lineage-truncation trade (executor loss => job restart)
    is accepted here because the alternative is a second full corpus
    scan+tokenize.  Run-merging is the gaps-and-islands form — ``pos -
    row_number()`` per doc groups consecutive covered positions — one
    doc-keyed window whose partitioning the final (doc, grp) aggregation
    reuses.

    Scale (100 TB): a viral k-gram ("lorem ipsum...") produces a large
    posting only inside the count aggregation (combiner-compressed); no
    posting list is materialized per document.  ``min_docs`` is the
    cross-document evidence floor; raise ``k`` to lengthen the minimum
    reportable span.
    """
    from pyspark.sql import Window

    # hashed_token_shingles pads docs shorter than k with a single
    # whole-text entry, so a doc that cannot contain a k-token span is
    # dropped up front (a pushdown-friendly filter, not a join).
    # tokens() — NOT a literal split — keeps this length check coupled to
    # the tokenization hashed_token_shingles derives gram positions from.
    docs = df.filter(
        F.col(text_col).isNotNull()
        & (F.size(tokens(F.col(text_col))) >= k)
    )
    grams = (
        docs.select(
            F.col(id_col),
            F.posexplode(
                hashed_token_shingles(F.col(text_col), k)
            ).alias("_p0", "_g"),
        )
        .select(id_col, (F.col("_p0") + 1).alias("pos"), "_g")
        .localCheckpoint(eager=False)
    )
    flagged = (
        grams.groupBy("_g")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_g")
    )
    covered = grams.join(flagged, "_g", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy(F.asc("pos"))
    runs = covered.withColumn(
        "_grp", F.col("pos") - F.row_number().over(w)
    )
    return (
        runs.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("int").alias(
                "span_tokens"
            ),
        )
        .select(id_col, "span_start", "span_tokens")
    )


def scrub_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """The APPLIED half of :func:`repeated_spans` (the corpus rewritten,
    as boilerplate_scrub is to chunk_dedup): every non-NULL-text document
    returned as ``(id, n_tokens, n_removed, clean_text)`` with its
    cross-document repeated spans cut and the remaining tokens in
    original order.  Documents shorter than ``k`` tokens (which cannot
    contain a span) pass through unchanged.

    Plan shape: :func:`repeated_spans`' plan plus one span-list
    aggregation (a doc's MERGED spans are few — bounded by tokens/k —
    never the per-position posting) and a left join back to the doc
    frame; the rebuild is IN-ROW (two-arg ``F.filter`` index lambda
    against the span list — O(tokens x spans) per row, no explode of the
    rebuilt corpus)."""
    spans = repeated_spans(
        df, id_col=id_col, text_col=text_col, k=k, min_docs=min_docs
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_tokens")).alias("_sp")
    )
    docs = df.filter(F.col(text_col).isNotNull())
    # tokens() keeps the rebuilt token array position-aligned with the
    # shingle source (hashed_token_shingles tokenizes via tokens() too)
    joined = docs.join(per_doc, id_col, "left").select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("_t"),
        F.coalesce(
            F.col("_sp"),
            F.array().cast("array<struct<span_start:int,span_tokens:int>>"),
        ).alias("_sp"),
    )

    def outside_spans(tok, i):  # i is F.filter's 0-based index
        pos = i + 1
        return ~F.exists(
            F.col("_sp"),
            lambda s: (pos >= s["span_start"])
            & (pos < s["span_start"] + s["span_tokens"]),
        )

    kept = F.filter(F.col("_t"), outside_spans)
    return joined.select(
        id_col,
        F.size("_t").cast("long").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def boilerplate_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """C4-style corpus-level boilerplate removal, APPLIED: every document
    is cut into non-overlapping ``span_tokens``-token spans; a span whose
    exact token sequence occurs >= ``min_count`` times across the corpus
    (counting every occurrence, including repeats within one document) is
    boilerplate, and the output document is the original with those spans
    removed — remaining spans and the trailing ``len % span_tokens``
    remainder keep their original order.

    Returns ``(id_col, n_spans, n_dropped, clean_text)`` for every
    non-NULL-text document (``n_spans`` counts full spans only).

    The survivor-report companion is the ``chunk_dedup`` catalog query
    (keep-first-occurrence); this operator is the other half of the C4
    recipe — the corpus rewritten.

    Plan shape: map-only span digests (md5 — exact dedup wants exact
    equality, and the digest is oracle-reproducible), ONE groupBy on the
    digest for global counts, a join of the span stream back on THE SAME
    digest key (AQE exchange reuse: the tokenize+span+shuffle runs once),
    then one per-doc agg of dropped span positions and an IN-ROW rebuild
    (filter the token array by span index) joined narrowly against the
    doc frame.  No posting list of owners is ever materialized — a viral
    boilerplate span (the whole point of the operator) would make that
    one corpus-sized row; the hot-span dim is count-only.
    """
    w = span_tokens
    # tokens() — the module's ONE tokenizer (keeps span indexing coupled
    # to the tokenization every other dedup operator derives from)
    toks = tokens(F.col(text_col))
    n_full = F.floor(F.size(toks) / w).cast("int")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        toks.alias("_t"),
        n_full.alias("_nf"),
        # sequence(0, -1) descends in Spark — guard the empty-span case
        F.when(
            n_full > 0, F.sequence(F.lit(0), (n_full - 1).cast("int"))
        ).otherwise(F.array().cast("array<int>")).alias("_ps"),
    )
    sp = base.select(
        F.col(id_col),
        F.explode("_ps").alias("_pos"),
        F.col("_t"),
    ).select(
        id_col,
        "_pos",
        F.md5(F.array_join(F.slice("_t", F.col("_pos") * w + 1, w), " ")).alias("_h"),
    )
    hot = (
        sp.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_h")
    )
    dropped = (
        sp.join(hot, "_h")
        .groupBy(id_col)
        .agg(
            F.collect_list("_pos").alias("_dp"),
            F.count(F.lit(1)).alias("n_dropped"),
        )
    )
    joined = base.join(dropped, id_col, "left").select(
        id_col,
        F.col("_nf").cast("long").alias("n_spans"),
        F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        F.col("_t"),
        F.col("_nf"),
        F.coalesce("_dp", F.array().cast("array<int>")).alias("_dp"),
    )
    kept_spans = F.filter(
        F.when(
            F.col("_nf") > 0, F.sequence(F.lit(0), (F.col("_nf") - 1).cast("int"))
        ).otherwise(F.array().cast("array<int>")),
        lambda p: ~F.array_contains("_dp", p),
    )
    tail_len = F.size("_t") - F.col("_nf") * w
    tail = F.when(
        tail_len > 0, F.slice("_t", F.col("_nf") * w + 1, tail_len)
    ).otherwise(F.array().cast("array<string>"))
    clean = F.array_join(
        F.concat(
            F.flatten(
                F.transform(kept_spans, lambda p: F.slice("_t", p * w + 1, w))
            ),
            tail,
        ),
        " ",
    )
    return joined.select(
        id_col, "n_spans", "n_dropped", clean.alias("clean_text")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    threshold: float = 0.8,
    x100: bool = True,
    max_postings: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share >= 1 shingle.

    |A ∩ B| via shared-shingle co-occurrence + count; |A ∪ B| = |A| + |B|
    - |A ∩ B|.  Jaccard is reported as an exact integer permille-style x100
    score (floor) to stay hash-comparable.

    Plan shape: ONE groupBy(shingle) builds the posting list per shingle,
    then pairs expand IN-ROW (two explodes over the same list) — no
    shuffle self-join, and the overwhelmingly common singleton shingles
    (|postings| = 1, which can never witness a pair) are dropped before
    expansion.  Per-doc sizes are computed IN-ROW at the source
    (``F.size`` over the same distinct-shingle array) and carried through
    the posting lists as struct fields, so the union-size arithmetic needs
    NO join at all — no second corpus scan, and critically no broadcast of
    a per-document table (a |docs|-row frame is corpus-sized at 100 TB and
    must never be collected to the driver).
    At 100 TB a viral shingle makes |postings|^2 in-row pairs — pass
    ``max_postings`` to drop such stop-shingles before expansion (standard
    stop-shingle removal: a shingle shared by that many documents carries
    no near-dup signal).  Intersection counts then undercount by the
    dropped shingles, making the score a LOWER bound — sizes still count
    every shingle, so capped scores only ever filter pairs out, never
    admit false positives.
    """
    # postings aggregate feeds the pair expansion AND (via the carried n_sh
    # struct field) the union-size arithmetic.  |grouped| ≤ |distinct
    # shingles| rows — at 100 TB materialize instead to a table bucketed on
    # the shingle key.  n_sh rides as a struct member: it is functionally
    # dependent on the doc id, so grouping on (id, n_sh) pairs below is the
    # same grouping as on ids alone.
    # shingles are 64-bit hash keys built WITHOUT shingle strings
    # (hashed_token_shingles): the pair expansion groups on shingle
    # identity only, so an 8-byte key replaces the multi-token string in
    # the posting shuffle (collision odds ~|shingles|^2/2^64 — the
    # MinHash/SimHash approximation family)
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            hashed_token_shingles(F.col(text_col), shingle_size)
        ).alias("_shs"),
    ).select(
        F.struct(
            F.col("_id").alias("id"), F.size("_shs").cast("long").alias("n_sh")
        ).alias("doc"),
        F.explode("_shs").alias("shingle"),
    )
    # array_sort orders each posting by id (n_sh is functionally dependent
    # on id, and ids are distinct within a posting thanks to the upstream
    # array_distinct), so ordered pairs a < b can be generated DIRECTLY:
    # element i pairs with elements i+1.. via slice.  That emits exactly
    # n(n-1)/2 rows instead of n^2-then-filter — measured 48.0 -> 11.7 s
    # at sf1 (50k docs, avg posting 84), where the expansion is ~211M rows.
    grouped = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.col("doc"))).alias("docs")
    )
    expandable = grouped.filter(F.size("docs") >= 2)
    if max_postings is not None:
        expandable = expandable.filter(F.size("docs") <= max_postings)
    # AllPairs-style length filter, map-side BEFORE the pair shuffle: a
    # pair's best-achievable Jaccard is min/max of the two sizes (perfect
    # containment), so 100*min < T*(n_a+n_b-min) can never pass the final
    # threshold — dropping every expansion row of such a pair changes
    # nothing downstream but prunes the shuffle/agg on length-skewed
    # corpora (floor(p/q) >= T <=> p >= T*q for non-negative integers)
    thr = int(threshold * 100)
    _m = F.least(F.col("a.n_sh"), F.col("b.n_sh"))
    scored = (
        expandable.select(F.posexplode("docs").alias("_i", "a"), "docs")
        .select(
            "a",
            F.explode(
                F.slice("docs", F.col("_i") + 2, F.size("docs"))
            ).alias("b"),
        )
        .filter(
            F.lit(100) * _m
            >= F.lit(thr) * (F.col("a.n_sh") + F.col("b.n_sh") - _m)
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn(
            "jaccard_x100",
            F.floor(
                F.col("n_inter").cast("double") * 100.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).cast("long"),
        )
    )
    return scored.filter(F.col("jaccard_x100") >= int(threshold * 100)).select(
        "id_a", "id_b", "jaccard_x100"
    )


def _simhash_batch(s):
    """Vectorized kernel for :func:`simhash64` (one Arrow batch): split
    each document on single spaces (== Spark ``split(text, ' ')``,
    empty fields kept), md5 each token ONCE (C-level hashlib, top 60
    digest bits == ``conv(substring(md5(t),1,15),16,10)``), then the 60
    bit votes are segmented sums over the batch-flattened token array —
    one ``np.add.reduceat`` per bit.  Bit i is set iff strictly more
    tokens have it set than not (``2*ones > count``, exactly the
    expression form's ``sum(+1/-1) > 0``)."""
    import hashlib
    import numpy as np
    import pandas as pd

    md5 = hashlib.md5
    fb = int.from_bytes
    toks_all: list[str] = []
    counts = np.empty(len(s), dtype=np.int64)
    valid = np.ones(len(s), dtype=bool)
    for i, t in enumerate(s):
        if t is None:
            valid[i] = False
            counts[i] = 0
            continue
        tk = t.split(" ")
        toks_all.extend(tk)
        counts[i] = len(tk)
    out = np.empty(len(s), dtype=object)
    if toks_all:
        hv = np.fromiter(
            (
                fb(md5(tok.encode("utf-8")).digest()[:8], "big") >> 4
                for tok in toks_all
            ),
            dtype=np.int64,
            count=len(toks_all),
        )
        totals = counts[valid]
        offsets = np.zeros(len(totals), dtype=np.int64)
        np.cumsum(totals[:-1], out=offsets[1:])
        sh = np.zeros(len(totals), dtype=np.int64)
        for b in range(60):
            ones = np.add.reduceat((hv >> b) & 1, offsets)
            sh |= (2 * ones > totals).astype(np.int64) << b
        out[valid] = sh.tolist()
    return pd.Series(out)


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash from per-token md5 bits: bit i of the hash is 1 iff
    more tokens have bit i set than not.  Hamming-close hashes = near-dup
    documents.

    MAP-ONLY (round-10): the whole fingerprint — tokenize, md5, 60 bit
    votes — folds into one Arrow kernel per row, so the plan has ZERO
    shuffle (the previous form exploded tokens, ran the JVM
    md5-conv chain per token and re-grouped on the id with 60 parallel
    sum-aggregates; partial aggregation kept the shuffle small, but the
    explode pass and the 60-way agg codegen were the per-stage cost —
    the same economics as ``minhash_signatures``).  The expression form
    is kept below as :func:`simhash64_agg` and pinned value-equal by
    tests/test_text_ops.py::test_simhash_kernel_agg_parity, so the DuckDB
    oracle digest is unchanged.  Rows with NULL text drop out (the
    explode form never emitted them); a map-only plan also serves an
    unbounded streaming frame unchanged.
    """
    from pyspark.sql.types import LongType

    sig = F.pandas_udf(_simhash_batch, LongType())(F.col(text_col))
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), sig.alias("simhash60"))
    )


def simhash64_agg(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Expression form of :func:`simhash64` (explode + conv + bitwise ops
    + groupBy) — kept as the cross-implementation parity pin and for
    sessions where Python workers are unavailable.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    # 60-bit value from the first 15 hex chars of md5 — fits a long exactly.
    # Bit votes are 60 parallel sum-aggregates over the token rows (map-side
    # partial agg, whole-stage codegen) — NOT an explode to 60 rows per
    # token, which would shuffle 60x the data for the same result.
    h = toks.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h60"),
    )
    votes = [
        F.sum(
            F.when(F.expr(f"(shiftright(h60, {i}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(60)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    bit_terms = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(60)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return agg.select(F.col(id_col), total.alias("simhash60"))


#: cached edge sets from previous duplicate_clusters calls, released lazily
_CLUSTER_CACHE: list[DataFrame] = []


def _unionfind_local(edges: list[tuple], spark, id_type: str) -> DataFrame:
    """Driver-side union-find over a collected edge list; returns the same
    (doc_id, cluster_id = min id in component) relation as the distributed
    loop.  Linear in edges (inverse-Ackermann union-find), deterministic."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: smaller id becomes the root, so the final root
            # of every component is its minimum member
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {x for e in edges for x in e}
    rows = [(x, find(x)) for x in sorted(nodes)]
    return spark.createDataFrame(
        rows, f"doc_id {id_type}, cluster_id {id_type}"
    )


def duplicate_clusters(
    pairs: DataFrame, max_iters: int = 25, collect_threshold: int = 2_000_000
) -> DataFrame:
    """Connected components over candidate-pair edges -> duplicate clusters.

    Input: (id_a, id_b) near-dup candidate pairs (e.g. ``lsh_candidate_pairs``
    output).  Output: (doc_id, cluster_id) where cluster_id = min doc id in
    the component — the canonical "keep one representative per duplicate
    cluster" step of a training-data dedup pipeline.

    Adaptive, like Spark's own broadcast threshold: the candidate-pair set
    is orders of magnitude smaller than the corpus (it is the near-dup
    subset).  When the emitted candidate-row count (an upper bound on
    distinct edges; union-find is duplicate-insensitive, so the driver
    path skips the dedup shuffle entirely) is at most
    ``collect_threshold`` the whole edge list is collected ONCE and
    solved with a linear union-find — one job instead of one per round.  Above the threshold, the
    alternating large-star / small-star contraction runs (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): every round keeps ALL
    state — edges and labels — in DataFrames; nothing label-sized ever
    reaches the driver (a 30-50%%-duplicate web corpus makes the label set
    corpus-order, so a driver-side map is an OOM, not an optimization).
    Per round: two neighborhood aggregations + in-row star re-pointing;
    converges in O(log^2 n) rounds to per-component stars centered at the
    minimum id.  The only driver traffic is a per-round O(1) convergence
    checksum.  Each round ``localCheckpoint``s its edge set — the standard
    lineage-truncation for iterative graph algorithms (same trade
    GraphFrames makes): recovery is re-running the bounded loop, never a
    2^rounds lineage replay.

    Raises RuntimeError if not converged within ``max_iters`` — a wrong
    partial clustering must never be silently returned.
    """
    spark = pairs.sparkSession
    id_type = pairs.schema["id_a"].dataType.simpleString()
    # release the previous call's cached edge set (the returned frame reads
    # from it, so it cannot be unpersisted before the caller consumes it)
    while _CLUSTER_CACHE:
        _CLUSTER_CACHE.pop().unpersist()
    # RAW pairs, no distinct (round-10): union-find is duplicate-
    # insensitive, so the driver path needs no dedup shuffle at all —
    # the distinct Exchange cost every consumer a stage for nothing.
    # The threshold therefore counts EMITTED candidate rows (an upper
    # bound on distinct edges, larger by at most the blocking stage's
    # duplication factor — bands for MinHash-LSH); both paths compute
    # identical clusters either side of the flip, so the only effect is
    # a slightly earlier switch to the distributed loop, which dedups
    # below.
    raw_pairs = pairs.select("id_a", "id_b").persist()
    _CLUSTER_CACHE.append(raw_pairs)
    # one count triggers the (expensive) candidate-pair lineage and decides
    # the strategy; the collect below reuses the persisted result
    if raw_pairs.count() <= collect_threshold:
        edge_list = [(r["id_a"], r["id_b"]) for r in raw_pairs.collect()]
        # the driver path's result is built from driver memory
        # (_unionfind_local -> createDataFrame) and never reads raw_pairs
        # again, so release the persist NOW: a lingering InMemoryRelation
        # substitutes into every later same-session plan that contains the
        # candidate-pair subtree (the cache manager matches by logical
        # plan, not by DataFrame identity), breaking exchange reuse there —
        # measured: tfidf_rerank's minhash kernel evaluated 2x instead of
        # 1x for the rest of the session.  The lazy release (next-call
        # drain) is only needed on the distributed path, whose RETURNED
        # frame does read the persisted node set.
        _CLUSTER_CACHE.remove(raw_pairs)
        raw_pairs.unpersist()
        return _unionfind_local(edge_list, spark, id_type)
    dedup_pairs = raw_pairs.distinct()

    # every node must survive to the output even if star contraction
    # removes its last explicit edge, so pin the node set up front
    nodes = (
        dedup_pairs.select(F.col("id_a").alias("doc_id"))
        .union(dedup_pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .persist()
    )
    _CLUSTER_CACHE.append(nodes)

    def large_star(e: DataFrame) -> DataFrame:
        """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nbrs = sym.groupBy("src").agg(F.collect_set("dst").alias("ns"))
        m = F.array_min(F.array_union(F.col("ns"), F.array(F.col("src"))))
        return (
            nbrs.select("src", m.alias("m"), F.explode("ns").alias("v"))
            .filter(F.col("v") > F.col("src"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        """Direct edges large→small, connect every smaller neighbor (and u
        itself) to the minimum of the small neighborhood."""
        directed = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))
        nbrs = directed.groupBy("src").agg(F.collect_set("dst").alias("ns"))
        with_self = F.array_union(F.col("ns"), F.array(F.col("src")))
        m = F.array_min(with_self)
        return (
            nbrs.select(m.alias("m"), F.explode(with_self).alias("v"))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    def checksum(e: DataFrame) -> tuple:
        """O(1)-to-driver fingerprint of the edge set (count + order-
        independent hash sums) — the convergence probe."""
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38) sum: overflow-free under ANSI for any edge count
            F.sum(F.xxhash64("src", "dst").cast("decimal(20,0)")).alias("h"),
            F.bit_xor(F.xxhash64("dst", "src")).alias("x"),
        ).collect()[0]
        return (row["n"], row["h"], row["x"])

    edges = dedup_pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint(eager=True)
    prev = checksum(edges)
    for _ in range(max_iters):
        edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        cur = checksum(edges)
        if cur == prev:
            # fixpoint: per-component stars (v, root).  Re-attach isolated
            # root/singleton nodes via the pinned node set.
            labels = edges.select(
                F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
            )
            return (
                nodes.join(labels, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
                )
            )
        prev = cur
    raise RuntimeError(f"duplicate_clusters did not converge in {max_iters} rounds")


def keep_representatives(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The dedup payoff step: drop every clustered document except its
    cluster representative (the min-id member ``duplicate_clusters``
    labels as cluster_id); unclustered documents pass through.

    One broadcast anti-join: the drop-list (clustered non-representatives)
    is bounded by the near-dup subset, never the corpus — at 100 TB the
    corpus streams through map-side while the drop-list broadcasts.
    """
    drop = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return docs.join(F.broadcast(drop), id_col, "left_anti")


def soft_dedup_weights(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    weight_scale: int = 1000,
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates
    (:func:`keep_representatives`), DOWNWEIGHT every member of a
    duplicate cluster by its cluster size — the SoftDeDup-style loss /
    sampling reweighting, keeping diversity signal the hard drop throws
    away.  weight_x1000 = floor(weight_scale / cluster_size); a cluster's
    total sampling mass therefore stays ~one document regardless of how
    many copies the crawl picked up.  Unclustered documents keep size 1
    and full weight.

    Scale shape: ``clusters`` is bounded by the near-dup subset, never
    the corpus.  Sizes reduce it to one row per cluster; both joins key
    on ids (cluster_id, then ``id_col``) — plain hash joins with no
    corpus-sized broadcast, and the corpus-side join lets AQE broadcast
    the clustered subset when it is small.  Weights are exact integer
    floor-division — no float ratios to drift cross-engine.

    Output: docs columns + (cluster_size, weight_x{weight_scale}) —
    the weight column is NAMED after the scale so a non-default scale
    can't be silently misread as thousandths.
    """
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("_sz")
    )
    labeled = clusters.join(sizes, "cluster_id").select(id_col, "_sz")
    return (
        docs.join(labeled, id_col, "left")
        .withColumn("cluster_size", F.coalesce(F.col("_sz"), F.lit(1).cast("long")))
        .withColumn(
            f"weight_x{int(weight_scale)}",
            F.expr(f"CAST({int(weight_scale)} DIV cluster_size AS BIGINT)"),
        )
        .drop("_sz")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a < id_b, cosine >= threshold).

    Output: (id_a, id_b, cos_x1000) with the score floored to integer
    thousandths so hash-compares are float-repr-stable.

    This is the exact O(n^2/2) baseline (one broadcast of the smaller
    projection; products fold in fixed array order so scores are
    bit-deterministic).  Norms are computed once per vector BEFORE the pair
    join — the pair stage then does exactly one array fold (the dot), not
    three, which is the difference between O(n^2 * d) and O(3 n^2 * d) work
    in the nested-loop join.  At 100 TB-scale, pre-bucket with
    ``similarity.lsh_bucket`` and run this within buckets only — candidates
    then meet inside a bucket instead of a full cross join.
    """
    with_norm = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col), dim).alias("_n"),
    )
    a = with_norm.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = with_norm.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a",
        "id_b",
        F.floor(
            dot(F.col("_va"), F.col("_vb"), dim) / (F.col("_na") * F.col("_nb")) * 1000.0
        ).cast("long").alias("cos_x1000"),
    )
    return scored.filter(F.col("cos_x1000") >= int(threshold * 1000))


def embedding_neardup_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """``embedding_neardup_pairs`` with a numpy block kernel — same pairs,
    bit-identical scores, ~10x the nested-loop throughput.

    The Catalyst form evaluates one zip_with/aggregate fold per PAIR inside a
    BroadcastNestedLoopJoin — O(n^2) interpreted HOF calls.  Here the right
    side (ids + float32 matrix) is broadcast once and each mapInPandas batch
    scores its rows against the whole matrix vectorized ACROSS pairs but
    sequentially ACROSS dimensions:

        acc_k+1 = acc_k + A[:, k, None] * B[None, :, k]      (float64)

    which is element-for-element the same operation sequence as the
    ``aggregate`` left fold (0.0; acc + x_k*y_k in array order), so scores —
    and the floor(x1000) threshold cut — are bit-identical to the Catalyst
    form and to the DuckDB ``list_reduce`` oracle.  BLAS matmul would NOT be
    (pairwise/SIMD summation reorders the adds).

    Scale: the broadcast side must fit in executor memory (n*d floats); the
    left side streams in Arrow batches, so work distributes as n/partitions
    blocks.  Adaptive, mirroring ``duplicate_clusters``: above
    ``broadcast_threshold`` rows the corpus is NOT collected — the call
    delegates to :func:`embedding_neardup_pairs_grid` (same pairs,
    bit-identical scores, no driver materialization) with ``n_blocks``
    sized so each grid cell stays under the threshold.  The count that
    decides the strategy is one cheap scan next to the O(n^2) scoring.
    """
    import math

    import numpy as np
    import pandas as pd

    side = df.select(F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v"))
    n_rows = side.count()
    if n_rows > broadcast_threshold:
        n_blocks = max(8, math.ceil(2 * n_rows / broadcast_threshold))
        return embedding_neardup_pairs_grid(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col,
            n_blocks=n_blocks,
        )
    rows = side.collect()
    ids_all = np.array([r._id for r in rows], dtype=np.int64)
    mat = np.array([r._v for r in rows], dtype=np.float32)
    bc = side.sparkSession.sparkContext.broadcast((ids_all, mat))
    thr = int(threshold * 1000)

    def kernel(batches):
        ids_b, v32 = bc.value
        b64 = v32.astype(np.float64)
        d = b64.shape[1]
        nacc = np.zeros(len(ids_b))
        for k in range(d):
            nacc += b64[:, k] * b64[:, k]
        nb = np.sqrt(nacc)
        for pdf in batches:
            if not len(pdf):
                continue
            ida = pdf["_id"].to_numpy(dtype=np.int64)
            a64 = np.asarray(list(pdf["_v"]), dtype=np.float32).astype(np.float64)
            # in-place accumulate with a reused temp: identical FP op order
            # to the `acc = acc + ...` left fold (bit-exact scores), but no
            # 64 fresh |batch| x n allocations per batch
            acc = np.zeros((len(ida), len(ids_b)))
            tmp = np.empty_like(acc)
            na_acc = np.zeros(len(ida))
            for k in range(d):
                np.multiply(a64[:, k][:, None], b64[:, k][None, :], out=tmp)
                np.add(acc, tmp, out=acc)
                na_acc += a64[:, k] * a64[:, k]
            na = np.sqrt(na_acc)
            cos = np.floor(acc / (na[:, None] * nb[None, :]) * 1000.0)
            keep = (ida[:, None] < ids_b[None, :]) & (cos >= thr)
            ii, jj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": ida[ii],
                    "id_b": ids_b[jj],
                    "cos_x1000": cos[ii, jj].astype(np.int64),
                }
            )

    out = side.repartition(side.sparkSession.sparkContext.defaultParallelism)
    return out.mapInPandas(kernel, "id_a long, id_b long, cos_x1000 long")


def embedding_neardup_pairs_grid(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding near-dup pairs, fully distributed — the 100 TB form.

    Same pairs and bit-identical scores as ``embedding_neardup_pairs``/
    ``_blocked``, but with NO driver-side collect and no broadcast of the
    corpus: ids hash into ``n_blocks`` blocks, every unordered block pair
    (bi <= bj) becomes one grid cell, and each row is replicated to the
    ``n_blocks`` cells its block participates in.  One shuffle
    (groupBy cell) then scores each cell with the numpy block kernel:
    a cell task holds only 2/n_blocks of the corpus, so executor memory
    bounds the CELL, not the table.  Work is the exact O(n^2/2) all-pairs
    total, spread over n_blocks*(n_blocks+1)/2 independent tasks; shuffle
    volume is n_blocks * |corpus| rows.  Pick n_blocks ~ sqrt(2 * tasks)
    for the cluster (cells ~= tasks); at 100 TB grow n_blocks so a cell's
    two blocks fit an executor.

    Scores accumulate dimension-at-a-time in fixed array order — the same
    FP operation sequence as the ``aggregate`` left fold and the DuckDB
    ``list_reduce`` oracle, so the floor(x1000) cut is bit-identical
    (dot and the norm product are commutative per element, so (a,b) and
    (b,a) orientations agree bitwise and min/max-id emission is safe).
    """
    import numpy as np
    import pandas as pd

    thr = int(threshold * 1000)
    side = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_blocks))
        .cast("int")
        .alias("_blk"),
    )
    cells = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(F.col("_blk"), F.lit(q)).alias("bi"),
                    F.greatest(F.col("_blk"), F.lit(q)).alias("bj"),
                )
                for q in range(n_blocks)
            ]
        )
    )
    replicated = side.select(
        "_id", "_v", "_blk", F.explode(cells).alias("_cell")
    ).select(
        "_id",
        "_v",
        "_blk",
        F.col("_cell.bi").alias("_bi"),
        F.col("_cell.bj").alias("_bj"),
    )

    def cell_kernel(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        left = pdf[pdf["_blk"] == bi]
        right = pdf[pdf["_blk"] == bj] if bi != bj else left
        if not len(left) or not len(right):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_x1000": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_x1000": "int64"}
            )
        ida = left["_id"].to_numpy(dtype=np.int64)
        idb = right["_id"].to_numpy(dtype=np.int64)
        a64 = np.asarray(list(left["_v"]), dtype=np.float32).astype(np.float64)
        b64 = np.asarray(list(right["_v"]), dtype=np.float32).astype(np.float64)
        d = a64.shape[1]
        acc = np.zeros((len(ida), len(idb)))
        tmp = np.empty_like(acc)
        na_acc = np.zeros(len(ida))
        nb_acc = np.zeros(len(idb))
        for k in range(d):
            np.multiply(a64[:, k][:, None], b64[:, k][None, :], out=tmp)
            np.add(acc, tmp, out=acc)
            na_acc += a64[:, k] * a64[:, k]
            nb_acc += b64[:, k] * b64[:, k]
        na = np.sqrt(na_acc)
        nb = np.sqrt(nb_acc)
        cos = np.floor(acc / (na[:, None] * nb[None, :]) * 1000.0)
        if bi == bj:
            keep = (ida[:, None] < idb[None, :]) & (cos >= thr)
            ii, jj = np.nonzero(keep)
            lo, hi = ida[ii], idb[jj]
        else:
            # disjoint blocks: every qualifying (x, y) appears exactly once
            # in this cell's cross product; orient by id
            keep = cos >= thr
            ii, jj = np.nonzero(keep)
            lo = np.minimum(ida[ii], idb[jj])
            hi = np.maximum(ida[ii], idb[jj])
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos_x1000": cos[ii, jj].astype(np.int64)}
        )

    return replicated.groupBy("_bi", "_bj").applyInPandas(
        cell_kernel, "id_a long, id_b long, cos_x1000 long"
    )


# ---------------------------------------------------------------------------
# Winnowing (window-min sampled) fingerprints


#: selected fingerprints are summed mod 2^40 so per-doc sums stay far below
#: int64 in BOTH engines (DuckDB promotes BIGINT sums to HUGEINT; Spark
#: wraps — keep the domain small enough that neither path is exercised)
WINNOW_SUM_MOD = 1 << 40


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Per-document winnowing-family fingerprint summary: hash every
    k-token shingle (md5 → 60-bit int, the engine's cross-engine digest
    family), sample the RIGHT-ANCHORED WINDOW MINIMA — position ``p`` is
    selected iff ``h[p] == min(h[p-w+1 .. p])`` over full windows only
    (``p >= w-1``), PLUS the global-min hash unconditionally (a
    monotone-increasing hash run has no right-anchored window minimum and
    every doc must emit at least one fingerprint; docs with fewer than
    ``w`` shingles reduce to just the global min) — and reduce the
    selected set per doc:

    ``(doc_id, n_fp, fp_min, fp_sum)`` with ``n_fp`` = distinct selected
    hashes, ``fp_sum`` = sum of the distinct hashes mod 2^40.

    This is the MOSS/winnowing fingerprint family (local sampling of
    k-gram hashes at expected density 1/w) in its right-anchored variant:
    the selection rule is a pure function of the preceding window, so it
    needs ONE forward pass — no robust-winnowing backward tie scan — and
    replays exactly in a SQL window function for the oracle.  Ties
    (h == window min at multiple positions) select every tying position;
    the distinct pass collapses them.

    Plan: map-only Arrow kernel (split → md5 per shingle → numpy sliding
    window min), ZERO shuffles — per-doc output needs no aggregation
    exchange.  At 100 TB this is a pure scan; the fingerprint CONSUMERS
    (cross-doc fingerprint matching) group on the sampled hashes, which
    is 1/w of the shingle volume by construction.
    """
    import pandas as pd

    def batch(it):
        import hashlib

        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in it:
            ids = pdf[id_col].to_numpy()
            out_id, out_n, out_min, out_sum = [], [], [], []
            for did, t in zip(ids, pdf[text_col]):
                toks = t.split(" ")
                m = len(toks) - k + 1
                if m < 1:
                    sh = [" ".join(toks)]
                else:
                    sh = [" ".join(toks[i:i + k]) for i in range(m)]
                hs = np.array(
                    [
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in sh
                    ],
                    dtype=np.int64,
                )
                glob = hs[hs == hs.min()]
                if len(hs) >= w:
                    mins = sliding_window_view(hs, w).min(axis=1)
                    sel = hs[w - 1:][hs[w - 1:] == mins]
                    sel = np.concatenate([sel, glob])
                else:
                    sel = glob
                fps = np.unique(sel)
                out_id.append(did)
                out_n.append(len(fps))
                out_min.append(int(fps.min()))
                out_sum.append(int((fps % WINNOW_SUM_MOD).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(out_id, dtype=np.int64),
                    "n_fp": np.asarray(out_n, dtype=np.int64),
                    "fp_min": np.asarray(out_min, dtype=np.int64),
                    "fp_sum": np.asarray(out_sum, dtype=np.int64),
                }
            )

    return df.filter(
        F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)
    ).mapInPandas(batch, "doc_id long, n_fp long, fp_min long, fp_sum long")


def minhash_jaccard_probe(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_size: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Accuracy probe of the MinHash estimator on its own LSH candidate
    pairs: per pair, the signature-agreement Jaccard estimate
    (``est_x100 = 100 * n_agree div num_hashes`` — the unbiased MinHash
    estimator at signature resolution) next to the EXACT shingle-set
    Jaccard, plus the signed error.  The num_hashes/bands tuning metric
    for the dedup family — the companion of the ann_*_recall probes on
    the retrieval side: it answers "how wrong is the 12-hash sketch on
    the pairs it actually surfaces", which bounds the false-positive rate
    of any downstream ``min_agree`` threshold.

    Plan shape: signature build + banding as in
    :func:`minhash_signatures` / :func:`lsh_candidate_pairs`; the
    agreement count is in-row integer arithmetic after two id-keyed
    equi-joins of the pair list against the signature frame (both sides
    id-partitioned, AQE picks the strategy; the pair list is
    LSH-bounded, never all-pairs).  The exact leg is PAIR-BOUNDED too:
    two more id-keyed joins attach each side's distinct hashed-shingle
    array and the intersection is an in-row ``array_intersect`` — NOT the
    all-co-shingle-pair posting expansion (``ngram_jaccard_pairs`` at
    threshold 0), which on a duplication-heavy corpus materializes the
    quadratic pair blow-up the LSH bands exist to avoid (measured at
    local sf1: the expansion form dies on a 9.7 GiB mis-broadcast; this
    form completes in seconds).  Same 64-bit hashed-shingle identity
    convention (collision odds ~2^-64) as the rest of the family; exact
    Jaccard here is ground truth only — production deploys the estimate.
    A candidate pair produced purely by a banding hash collision shares
    no shingle and takes exact Jaccard 0 from the empty intersection.

    Round-10 session 7: both per-document computations are hoisted above
    an id-hash repartition so AQE stage reuse evaluates each ONCE.  The
    signature kernel fed THREE stages (the banding branch plus each join
    side) and the shingle-set projection TWO — both sit above the scan,
    so reusing the scan exchange alone still re-ran them per consumer
    stage.  The added exchanges are the join's own id partitioning
    hoisted and shared, not new work: signatures ship ~100 bytes/doc,
    and the shingle arrays would cross per join side anyway once the
    pair list outgrows a broadcast.  Interleaved A/B
    (OPTIMIZATION_r10.md): local sf1 better in 4/5 passes (mins
    4.28 vs 6.13 s), sf0.1 neutral (1.77 vs 1.80 s); value parity
    asserted in-script at both scales (3,095 / 236,027 pair rows
    identical).

    The explicit ``id IS NOT NULL`` filter exists for the reuse, not the
    semantics: the joins push that predicate into their sig/set sides
    but not into the banding branch, and the asymmetry breaks the
    canonical plan equality stage reuse matches on.  It drops no result
    row — a NULL id never survives ``collect_list`` postings or the
    id-keyed joins.
    """
    df = df.filter(F.col(id_col).isNotNull())
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_size
    ).repartition(F.col(id_col))
    pairs = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    a = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{j}").alias(f"_a{j}") for j in range(num_hashes)],
    )
    b = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{j}").alias(f"_b{j}") for j in range(num_hashes)],
    )
    agree_terms = [
        (F.col(f"_a{j}") == F.col(f"_b{j}")).cast("int")
        for j in range(num_hashes)
    ]
    agree = agree_terms[0]
    for t in agree_terms[1:]:
        agree = agree + t
    est = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", agree.cast("long").alias("n_agree"))
    )
    sets = df.select(
        F.col(id_col).alias("_sid"),
        F.array_distinct(
            hashed_token_shingles(F.col(text_col), shingle_size)
        ).alias("_shs"),
    ).repartition(F.col("_sid"))
    a_sets = sets.select(
        F.col("_sid").alias("id_a"), F.col("_shs").alias("_sa")
    )
    b_sets = sets.select(
        F.col("_sid").alias("id_b"), F.col("_shs").alias("_sb")
    )
    n_inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    n_union = F.size("_sa") + F.size("_sb") - n_inter
    return (
        est.join(a_sets, "id_a")
        .join(b_sets, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_agree",
            F.expr(f"(100 * n_agree) div {num_hashes}")
            .cast("long")
            .alias("est_x100"),
            # float-floor form matches ngram_jaccard_pairs (and the
            # oracle) exactly on these integer-valued operands
            F.floor(
                n_inter.cast("double") * 100.0 / n_union.cast("double")
            )
            .cast("long")
            .alias("jaccard_x100"),
        )
        .withColumn(
            "err_x100",
            (F.col("est_x100") - F.col("jaccard_x100")).cast("long"),
        )
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    threshold: float = 0.8,
    max_postings: int | None = None,
) -> DataFrame:
    """AllPairs/PPJoin-style prefix-filtered exact Jaccard join — the
    SAME output as :func:`ngram_jaccard_pairs` (pinned by test) from a
    plan that expands only PREFIX postings.

    Prefix theorem (Bayardo et al. 2007 / Xiao et al. 2008, public):
    under any global total order on shingles, two sets with
    J(A,B) >= t have overlap o >= t*max(|A|,|B|), so their smallest
    common element sits within the first ``|X| - ceil(t*|X|) + 1``
    elements of BOTH sorted sets — posting lists built from those
    prefixes alone cannot miss a qualifying pair.  The global order here
    is the 64-bit shingle hash itself (``array_sort`` — zero extra cost;
    a corpus-frequency rarest-first order prunes more on Zipfian
    vocabularies but needs a frequency pass + a shingle-keyed join, the
    documented upgrade path).

    Plan shape: one map-only pass builds each doc's hash-sorted distinct
    shingle array and slices its prefix in-row; ONE groupBy(prefix
    shingle) + the sorted-posting slice expansion emits candidate pairs
    (prefix volume is a (1-t)-fraction of the full posting volume, so
    the quadratic expansion shrinks ~(1-t)^2); candidates dedupe and two
    id-keyed joins attach the full arrays for the in-row
    ``array_intersect`` verification — the pair-bounded exact leg, same
    as minhash_jaccard_probe.  ``max_postings`` keeps the stop-shingle
    cap semantics (applied to PREFIX postings; capped scores remain a
    lower bound that only ever filters pairs out).
    """
    thr = int(threshold * 100)
    sets = df.select(
        F.col(id_col).alias("_id"),
        F.array_sort(
            F.array_distinct(
                hashed_token_shingles(F.col(text_col), shingle_size)
            )
        ).alias("_shs"),
    ).select(
        "_id",
        "_shs",
        F.size("_shs").cast("long").alias("n_sh"),
    )
    # integer ceil(t*n) = (thr*n + 99) div 100; slice caps at the array
    # length, so t = 0 degrades to the full posting set
    prefix_len = (
        F.col("n_sh")
        - F.expr(f"({thr} * n_sh + 99) div 100")
        + F.lit(1)
    ).cast("int")
    pre = sets.select(
        F.struct(
            F.col("_id").alias("id"), F.col("n_sh").alias("n_sh")
        ).alias("doc"),
        F.explode(F.slice("_shs", 1, prefix_len)).alias("shingle"),
    )
    grouped = pre.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.col("doc"))).alias("docs")
    )
    expandable = grouped.filter(F.size("docs") >= 2)
    if max_postings is not None:
        expandable = expandable.filter(F.size("docs") <= max_postings)
    # the AllPairs length filter, before the candidate shuffle: J >= t
    # needs t*|B| <= |A| <= |B|/t, i.e. 100*min >= thr*max
    _m = F.least(F.col("a.n_sh"), F.col("b.n_sh"))
    _M = F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    cand = (
        expandable.select(F.posexplode("docs").alias("_i", "a"), "docs")
        .select(
            "a",
            F.explode(
                F.slice("docs", F.col("_i") + 2, F.size("docs"))
            ).alias("b"),
        )
        .filter(F.lit(100) * _m >= F.lit(thr) * _M)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )
    a_sets = sets.select(
        F.col("_id").alias("id_a"), F.col("_shs").alias("_sa")
    )
    b_sets = sets.select(
        F.col("_id").alias("id_b"), F.col("_shs").alias("_sb")
    )
    n_inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    n_union = F.size("_sa") + F.size("_sb") - n_inter
    scored = (
        cand.join(a_sets, "id_a")
        .join(b_sets, "id_b")
        .select(
            "id_a",
            "id_b",
            F.floor(
                n_inter.cast("double") * 100.0 / n_union.cast("double")
            )
            .cast("long")
            .alias("jaccard_x100"),
        )
    )
    return scored.filter(F.col("jaccard_x100") >= thr).select(
        "id_a", "id_b", "jaccard_x100"
    )
