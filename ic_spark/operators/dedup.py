"""Deduplication operators for large-scale text corpora.

Four families, all shuffle-frugal and UDF-free (pure Catalyst
expressions — higher-order array functions + xxhash64):

- **exact**: hash-groupBy on content (or normalized content).  One
  shuffle on the 64-bit hash; survivors are the min-id per group.
- **n-gram Jaccard**: exact pairwise Jaccard within blocking keys —
  the verification step for candidate pairs (never run unblocked at
  scale: the block keeps the self-join quadratic cost bounded).
- **MinHash + LSH**: signature = per-permutation min over shingle
  hashes; banding turns near-duplicate search into an equi-join on
  (band, band_hash) — the only shuffle is on band keys, so cost is
  O(docs × bands), independent of pair count.
- **SimHash**: 64-bit locality-sensitive fingerprint via per-bit
  majority vote over token hashes; near-dups differ in few bits.

The driver-facing oracle checks cover the exact/Jaccard/fingerprint
operators; MinHash/SimHash use engine-specific hash functions
(xxhash64) with no DuckDB equivalent, so their correctness is
established by property tests (see tests/test_operators.py) and a
rows-only driver check.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ic_spark.functions.text import (
    doc_fingerprint,
    portable_hash60,
    tokens,
    word_shingles,
)


# _spread decision memo: (application id, analyzed-plan semanticHash,
# target) -> bool (repartition or not).  The application id, unlike
# id(session), is never reused by a later session, so an entry cannot
# outlive the application that made it.  The ``df.rdd`` partition-count
# probe runs the full optimizer + physical planning + file-split
# computation DRIVER-SIDE — measured 190-700 ms per call at sf0.1,
# paid at query-BUILD time inside every timed rep — while the decision
# is a property of the (static within a session) source layout.
# semanticHash needs analysis only (~1-30 ms).  A memoized decision is
# advisory: it can only pick between two result-identical plans for
# the row set, and within one session it is MORE stable than
# re-probing (the same query always gets the same plan shape).
_SPREAD_MEMO: dict = {}
_SPREAD_MEMO_MAX = 512


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-wide parallelism before a heavy per-row map.

    A small table read from one file gets one input partition, which
    serializes expression-heavy operators (minhash/simhash) onto a
    single core.  Repartition up to the session's default parallelism
    when the scan is narrower; leave wide inputs alone (at cluster
    scale, file splits already provide parallelism and the shuffle
    would be pure cost).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    pk = plan_key(df)
    key = None
    if pk is not None:
        key = (sc.applicationId, pk, target)
        hit = _SPREAD_MEMO.get(key)
        if hit is not None:
            return df.repartition(target) if hit else df
    narrow = df.rdd.getNumPartitions() < target
    if key is not None:
        if len(_SPREAD_MEMO) >= _SPREAD_MEMO_MAX:
            _SPREAD_MEMO.clear()
        _SPREAD_MEMO[key] = narrow
    return df.repartition(target) if narrow else df


def _content_key(c: Column, normalize: bool) -> Column:
    """The ONE normalization rule shared by every exact-dedup path
    (batch, incremental, streaming ingest) — divergence here would make
    the paths disagree on what counts as a duplicate."""
    if normalize:
        return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return c


# Probe memo: (application id, kind, keys-plan semanticHash, *params)
# -> collected hot rows.  The key stays flat so a None plan hash would
# show as a top-level element.
# A corpus's hot-key profile is a property of the DATA; within one
# session, identical logical plans re-probe for free (bench reps, the
# candidates+verify double-consumption in dedup pipelines).  Entries
# are advisory only — a stale entry can never change results, only
# which (result-identical) plan shape is chosen.
_PROBE_MEMO: dict = {}
_PROBE_MEMO_MAX = 256


def plan_key(df: DataFrame) -> int | None:
    """Semantic hash of a DataFrame's analyzed plan — stable across
    identical rebuilds of the same query, distinct across different
    sources/filters.  None (no memoization) if the JVM call fails.
    The memos assume static sources: a file rewritten in place under
    an unchanged plan keeps its key, and since every memo is advisory
    a stale entry can only pick a result-identical plan shape."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None


def _probe_hot_keys(
    sampled_keys: DataFrame,
    key_cols: list[str],
    target: int,
    salt: str,
    detect_sample: float,
    max_hot_collect: int,
    memo_key: tuple | None = None,
):
    """Sampled hot-key probe shared by the blocked self-join operators
    (:func:`token_jaccard_pairs`, :func:`minhash_lsh_candidates`).

    ``sampled_keys`` is the key projection of an ALREADY-SAMPLED
    ``fraction=detect_sample`` row subset (callers sample BEFORE any
    expensive per-row derivation, so the probe never pays the full
    corpus); ``detect_sample`` here only scales the thresholds.  One
    tiny aggregate over it estimates per-key populations.  Returns

    - ``None`` — no sampled key at ≥ ``s_min = ceil(0.75·f·target)``
      occurrences: take the PLAIN join (uniform corpus, zero salting
      overhead);
    - a small literal DataFrame ``(key_cols…, __k)`` of estimated-hot
      keys with ``k = ceil(sample_n / (f·target))`` — broadcast it and
      salt only those keys, no full-size aggregate anywhere;
    - the string ``"full"`` — the hot set overflowed
      ``max_hot_collect`` (bounded driver memory) or ``salt="always"``:
      run full in-plan detection instead.

    The 0.75 threshold splits the error modes: a key at ≤ target/2 is
    flagged with ~e^-target·f/40 probability (wasted salting, still
    correct), one at ≥ 2·target is missed about as rarely (one
    oversized task, still correct) — salting is result-identical for
    ANY key set, so sampling only ever moves cost, never answers.
    """
    if salt == "never":
        return None
    if salt == "always":
        return "full"
    if salt != "auto":
        raise ValueError(f"salt must be auto|always|never, got {salt!r}")
    f = detect_sample
    s_min = max(2, math.ceil(0.75 * f * target))
    # No pre-shuffle coalesce: coalesce(8) propagates UP the narrow
    # chain and would run the sampled docs' whole upstream derivation
    # (e.g. 64 minhash permutations per doc) in 8 tasks regardless of
    # cluster size.  The post-aggregate result is tiny and AQE's
    # partition coalescing already merges the small shuffle reducers.
    probe = (
        sampled_keys
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") >= s_min)
        .select(
            *key_cols,
            F.greatest(F.lit(1), F.ceil(F.col("__bn") / F.lit(f * target)))
            .cast("int")
            .alias("__k"),
        )
    )
    if memo_key is not None:
        memo_key = (sampled_keys.sparkSession.sparkContext.applicationId,) + memo_key
    if memo_key is not None and memo_key in _PROBE_MEMO:
        rows = _PROBE_MEMO[memo_key]
    else:
        rows = probe.limit(max_hot_collect + 1).collect()
        if memo_key is not None:
            if len(_PROBE_MEMO) >= _PROBE_MEMO_MAX:
                _PROBE_MEMO.clear()
            _PROBE_MEMO[memo_key] = rows
    if not rows:
        return None
    if len(rows) > max_hot_collect:
        return "full"
    # Literal-expression hot table (NOT createDataFrame): a
    # parallelized RDD gets a fresh identity per call, which would
    # defeat plan-equality caching for every downstream consumer —
    # repeated identical dedup queries could never reuse a persisted
    # candidate set.  An explode-of-struct-literals plan canonicalizes
    # identically across rebuilds (rows sorted for stability).
    fields = probe.schema.fields
    rows = sorted(rows, key=lambda r: tuple(str(r[f.name]) for f in fields))
    structs = [
        F.struct(
            *[
                F.lit(r[f.name]).cast(f.dataType).alias(f.name)
                for f in fields
            ]
        )
        for r in rows
    ]
    return (
        sampled_keys.sparkSession.range(1)
        .select(F.explode(F.array(*structs)).alias("__hot"))
        .select("__hot.*")
    )


# ---------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    normalize: bool = False,
) -> DataFrame:
    """Keep one row (min id) per distinct content value.

    Dedup key is ``xxhash64(content)`` so the shuffle key is 8 bytes,
    not the document body — at 100 TB that is the difference between
    shuffling hashes and shuffling the corpus.  Collision risk at 2^64
    is negligible for practical corpus sizes (~10^10 docs → p≈1e-7).
    """
    keyed = df.withColumn(
        "__h", F.xxhash64(_content_key(F.col(content_col), normalize))
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def fingerprint_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Dedup on the order-insensitive token fingerprint (bag-of-words
    identity) — catches shuffled/reordered copies exact dedup misses."""
    # The canonical oracle-checked fingerprint expression lives in
    # functions/text.py — reusing it keeps this operator and the
    # doc_fingerprint function (and its DuckDB oracle) in lockstep.
    keyed = df.withColumn("__fp", doc_fingerprint(F.col(content_col)))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def incremental_dedup(
    increment: DataFrame,
    corpus: DataFrame,
    content_col: str,
    id_col: str,
    normalize: bool = False,
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus — the
    continuous-ingest shape: keep increment rows whose content (a) does
    not occur anywhere in the corpus and (b) is the min-id occurrence
    within the increment itself.

    Scale: both sides reduce to 8-byte xxhash64 keys before any join —
    the corpus side projects ONLY the content column (Parquet column
    pruning skips everything else) and ships distinct hashes into a
    hash anti-join; history is never re-deduped, only probed.  Compose
    with ``read_incremental`` to dedup exactly the files a snapshot
    range appended.
    """

    def key(col: Column) -> Column:
        return F.xxhash64(_content_key(col, normalize))

    inc = increment.withColumn("__h", key(F.col(content_col)))
    seen = corpus.select(key(F.col(content_col)).alias("__h")).distinct()
    fresh = inc.join(seen, "__h", "left_anti")
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


# ------------------------------------------------------------- jaccard

def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    hash_tokens: bool = True,
    subblock_target: int = 1024,
    salt: str = "auto",
    detect_sample: float = 0.05,
    max_hot_collect: int = 4096,
) -> DataFrame:
    """Exact token-set Jaccard for all pairs sharing a blocking key.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    The blocking keys bound the quadratic blow-up: the self-join is an
    equi-join on the block, so Spark shuffles each side once.

    HOT blocks (one key holding a large corpus fraction) are a COMPUTE
    skew AQE cannot see — its skew-join heuristic is byte-based, and a
    few MB of rows expanding to tens of millions of pairs stays in one
    sort-merge task.  The operator therefore salts adaptively: rows in
    any block larger than ``subblock_target`` are hashed into
    ``k = ceil(|block| / subblock_target)`` sub-blocks, and pairs are
    enumerated over the k(k+1)/2 sub-block-pair CELLS (each row
    replicated into the k cells containing its salt), which spreads the
    quadratic work across tasks.  Each unordered pair meets in exactly
    one cell — (min(sa,sb), max(sa,sb)) when salts differ, the diagonal
    cell when equal — so results are identical, and blocks at or under
    the target keep k=1 (single diagonal cell, no replication, the
    plain blocked join in all but name).

    Detection is PAY-AS-YOU-GO (``salt="auto"``): one tiny SAMPLED
    block-size probe — a column-pruned aggregate over ``detect_sample``
    of the rows reading only the block keys, no tokenization — decides
    the plan.  Uniform corpora (no sampled block at ≥ 3/4 of the
    expected hot sample count) take the PLAIN blocked self-join: zero
    salting overhead, the exact pre-salting plan.  Hot corpora take
    the cell-salted join with per-block ``k`` ESTIMATED from the same
    sample (``k = ceil(sample_n / (f·target))``) and shipped as a
    broadcast literal, so the hot path pays no full block-size
    aggregate either.  Salting any block set is result-identical (each
    unordered pair still meets exactly once), so sampling error only
    moves cost: a block of m rows is missed with P(Binom(m, f) <
    s_min) — astronomically rare for m ≥ 2·target, and harmless below
    (one task does O(target²) work).  If the sampled hot set exceeds
    ``max_hot_collect`` rows (pathological many-hot-blocks corpora)
    the operator falls back to full IN-PLAN detection (the block-size
    aggregate broadcast as the build side of a left join — bounded
    driver memory, one extra aggregate); ``salt="always"`` forces that
    path, ``salt="never"`` forces the plain join.

    ``hash_tokens`` (default) intersects sorted xxhash64 arrays instead
    of string arrays — 8-byte compares cut pairwise time ~2x and the
    shuffled token payload ~proportionally.  Jaccard values are
    identical unless two DISTINCT tokens inside one compared pair
    collide at 64 bits (~n_tokens^2/2^64 per pair — negligible); pass
    False for the collision-free string path.

    A LENGTH filter rides in the join condition: ``J(A,B) >= t``
    implies ``min(|A|,|B|) >= t * max(|A|,|B|)`` (intersection is at
    most the smaller set, union at least the larger), so size-mismatched
    pairs are dropped by an integer compare before any array intersect.
    Result-identical; on a hot block (one key holding ~10% of the
    corpus) it cuts the quadratic intersect work to the size-compatible
    fraction — the first line of defense the skew bench probe leans on.
    """
    toks = F.array_distinct(tokens(F.col(content_col)))
    if hash_tokens:
        toks = F.array_sort(F.transform(toks, lambda t: F.xxhash64(t)))
    base = df.select(
        F.col(id_col).alias("__id"), *block_cols, toks.alias("__toks")
    ).withColumn("__n", F.size(F.col("__toks")))

    def pair_condition(extra=None):
        # Conjunct order matters: Catalyst evaluates the non-equi join
        # condition in order, so the integer filters must precede the
        # array intersect (a post-join .where would be pushed in AHEAD
        # of them and every hash-matched pair would pay the intersect).
        cond = F.col("id_a") < F.col("id_b")
        for c in block_cols:
            cond = cond & (F.col(c) == F.col(f"__b_{c}"))
        if extra is not None:
            cond = cond & extra
        cond = cond & (
            F.least(F.col("__na"), F.col("__nb")).cast("double")
            >= F.lit(threshold) * F.greatest(F.col("__na"), F.col("__nb"))
        )
        inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
        union = F.col("__na") + F.col("__nb") - inter
        # Threshold on the RAW ratio (the oracle's semantics — rounding
        # first would admit pairs up to 5e-7 below t at huge unions);
        # round only for display.
        raw = inter.cast("double") / union.cast("double")
        jac = F.round(raw, 6)
        return cond & (raw >= threshold), jac

    # Pay-as-you-go detection: sampled probe -> plain / literal-hot /
    # in-plan-full (see docstring).  The probe reads ONLY the block
    # keys (column pruning drops the tokenization entirely).
    hot_df = _probe_hot_keys(
        df.select(*block_cols).sample(fraction=detect_sample, seed=7),
        block_cols,
        subblock_target,
        salt,
        detect_sample,
        max_hot_collect,
        # A failed semanticHash (None) must disable memoization, not
        # become part of the key — ('jaccard', None, …) would collide
        # across unrelated DataFrames with the same params and hand a
        # hot corpus a stale foreign probe.
        memo_key=(
            None
            if (_pk := plan_key(df)) is None
            else ("jaccard", _pk, tuple(block_cols), subblock_target, detect_sample,
               max_hot_collect)
        ),
    )
    if hot_df is None:
        # Uniform corpus: the plain blocked self-join, zero overhead.
        a = base.select(
            F.col("__id").alias("id_a"),
            *[F.col(c) for c in block_cols],
            F.col("__toks").alias("__ta"),
            F.col("__n").alias("__na"),
        )
        b = base.select(
            F.col("__id").alias("id_b"),
            *[F.col(c).alias(f"__b_{c}") for c in block_cols],
            F.col("__toks").alias("__tb"),
            F.col("__n").alias("__nb"),
        )
        cond, jac = pair_condition()
        return a.join(b, on=cond, how="inner").select(
            "id_a", "id_b", jac.alias("jaccard")
        )
    if isinstance(hot_df, str):
        # "full": in-plan detection — the block-size
        # aggregate's hot rows broadcast as the left-join build side,
        # empty-when-uniform.  Taken when salt="always" or the sampled
        # hot set overflowed max_hot_collect.
        counts = base.groupBy(*block_cols).agg(
            F.count(F.lit(1)).alias("__bn")
        )
        hot_df = counts.where(F.col("__bn") > subblock_target).select(
            *block_cols,
            F.ceil(F.col("__bn") / F.lit(subblock_target))
            .cast("int")
            .alias("__k"),
        )

    k = F.coalesce(F.col("__k"), F.lit(1))
    salted = base.join(F.broadcast(hot_df), on=block_cols, how="left").select(
        "__id",
        *block_cols,
        "__toks",
        "__n",
        k.alias("__k"),
        F.pmod(F.xxhash64(F.col("__id")), k).cast("int").alias("__s"),
    )
    # Each row lands in the k cells containing its salt: (min(s,w),
    # max(s,w)) for w in [0, k).
    cells = F.transform(
        F.sequence(F.lit(0), F.col("__k") - 1),
        lambda w: F.struct(
            F.least(F.col("__s"), w).alias("c1"),
            F.greatest(F.col("__s"), w).alias("c2"),
        ),
    )
    exploded = salted.select(
        "__id", *block_cols, "__toks", "__n", "__s", F.explode(cells).alias("__c")
    ).select(
        "__id",
        *block_cols,
        "__toks",
        "__n",
        "__s",
        F.col("__c.c1").alias("__c1"),
        F.col("__c.c2").alias("__c2"),
    )

    # Spread by the join keys BEFORE the per-side renames: a hot
    # block's k(k+1)/2 cells land on distinct tasks (AQE never flags
    # this skew — the BYTES are small; the PAIRS are not), the
    # partition count is EXPLICIT (an advisory repartition would be
    # coalesced back by AQE), and BOTH join sides project off this one
    # Exchange — alias-aware partitioning propagation satisfies the
    # join's required clustering, so ReusedExchange computes the
    # tokenize+salt+explode stage ONCE instead of once per side.
    n_spread = df.sparkSession.sparkContext.defaultParallelism
    spread = exploded.repartition(
        n_spread, *[F.col(c) for c in block_cols], F.col("__c1"), F.col("__c2")
    )
    a = spread.select(
        F.col("__id").alias("id_a"),
        *[F.col(c) for c in block_cols],
        F.col("__toks").alias("__ta"),
        F.col("__n").alias("__na"),
        F.col("__s").alias("__sa"),
        "__c1",
        "__c2",
    )
    b = spread.select(
        F.col("__id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("__toks").alias("__tb"),
        F.col("__n").alias("__nb"),
        F.col("__s").alias("__sb"),
        F.col("__c1").alias("__bc1"),
        F.col("__c2").alias("__bc2"),
    )
    # Equi keys: block + cell.  Equal-salt pairs co-occur in every cell
    # touching that salt; keep only their diagonal cell so each pair is
    # emitted exactly once.
    cell_eq = (
        (F.col("__c1") == F.col("__bc1"))
        & (F.col("__c2") == F.col("__bc2"))
        & ((F.col("__sa") != F.col("__sb")) | (F.col("__c1") == F.col("__c2")))
    )
    cond, jac = pair_condition(extra=cell_eq)
    # Shuffle-hash, not broadcast: the hot path's build side carries
    # replicated token arrays (a broadcast re-ships them to every task
    # and serializes the build), while a two-sided shuffle on the cell
    # keys lands each cell's rows on one task with a local hash join.
    return a.join(b.hint("shuffle_hash"), on=cond, how="inner").select(
        "id_a", "id_b", jac.alias("jaccard")
    )


# ----------------------------------------------- exact substring spans

def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 8,
    min_df: int = 2,
    hash_grams: bool = True,
) -> DataFrame:
    """Repeated-substring spans: maximal token ranges covered by
    k-grams that occur in at least ``min_df`` DISTINCT documents —
    the k-gram-granular form of exact-substring training-data dedup
    ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022: repeated spans are memorization fuel; downstream,
    cut or down-weight them).

    Returns (doc_id, span_start, span_end, span_tokens) with 1-based
    inclusive token positions.  Overlapping/adjacent duplicated k-grams
    merge into one span (gaps-and-islands over gram positions: a gram
    at ``pos`` extends the span while ``pos - prev_pos <= k``, i.e.
    coverage windows touch).

    Scale shape: one posexplode pass builds (doc, pos, gram) — grams
    reduce to 8-byte xxhash64 keys before any shuffle
    (``hash_grams``; collisions ~n_grams^2/2^64 — pass False for the
    collision-free string join); document frequency is a two-level
    aggregate on the gram key; the island merge is a window over each
    doc's HIT positions only (duplicated grams, not all grams).  No
    suffix array needed — coverage at k-gram granularity gives the
    same spans for any duplicated substring of length >= k.
    """
    grams = _doc_grams(df, id_col, content_col, k, hash_grams)
    dup = (
        grams.select("__g", "doc_id")
        .distinct()
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("__g")
    )
    hits = grams.join(dup, on="__g", how="left_semi")
    return _merge_islands(hits, k)


def _doc_grams(
    df: DataFrame, id_col: str, content_col: str, k: int, hash_grams: bool
) -> DataFrame:
    """(doc_id, pos, __g): every k-gram of every document, positions
    1-based — the ONE gram derivation shared by the batch and the
    incremental substring-span paths (divergence here would make them
    disagree on what counts as a repeated span)."""
    toks = tokens(F.col(content_col))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("__t")).where(
        F.size("__t") >= k
    )
    gram = F.concat_ws(" ", F.slice(F.col("__t"), F.col("__i") + 1, k))
    return base.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), F.size("__t") - k)).alias(
            "__x", "__i"
        ),
        "__t",
    ).select(
        "doc_id",
        (F.col("__i") + 1).alias("pos"),
        (F.xxhash64(gram) if hash_grams else gram).alias("__g"),
    )


def _merge_islands(hits: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated-gram HIT positions into
    (doc_id, span_start, span_end, span_tokens) — a window over each
    doc's hits only (duplicated grams, never all grams)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    islands = hits.select("doc_id", "pos", brk.alias("__brk")).withColumn(
        "__gid", F.sum("__brk").over(w)
    )
    return (
        islands.groupBy("doc_id", "__gid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def substring_gram_index(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 8,
    hash_grams: bool = True,
    base_index: DataFrame | None = None,
    _grams: DataFrame | None = None,
) -> DataFrame:
    """(gram, doc_freq): distinct-document frequency of every k-gram —
    the COMMITTED index the incremental substring-span path probes, so
    continuous ingest never re-reads corpus text.

    Pass ``base_index`` (a previous call's output) to fold a new batch
    in: frequencies ADD because each document is indexed exactly once
    (``read_incremental`` hands over exactly the files a snapshot range
    appended), so distinct-doc counts over disjoint doc sets sum.

    Scale shape: the index is (8-byte hash, long) — ~16 bytes per
    distinct gram vs re-tokenizing corpus text per batch; the update is
    one aggregate over the NEW batch plus a sum-merge with the old
    index, both on the compact key.
    """
    fresh = (
        (
            _grams
            if _grams is not None
            else _doc_grams(df, id_col, content_col, k, hash_grams)
        )
        .select("__g", "doc_id")
        .distinct()
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .select(F.col("__g").alias("gram"), "doc_freq")
    )
    if base_index is None:
        return fresh
    return (
        base_index.select("gram", "doc_freq")
        .unionByName(fresh)
        .groupBy("gram")
        .agg(F.sum("doc_freq").alias("doc_freq"))
    )


def incremental_substring_spans(
    increment: DataFrame,
    gram_index: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 8,
    min_df: int = 2,
    hash_grams: bool = True,
    _grams: DataFrame | None = None,
) -> DataFrame:
    """:func:`substring_dup_spans` for continuous ingest: repeated-
    substring spans in a NEW batch, with document frequency counted
    over the committed corpus (via ``gram_index`` — a
    :func:`substring_gram_index` over everything already ingested,
    NOT including the increment) PLUS the increment itself.

    Equivalent by construction to running the batch operator over
    corpus ∪ increment and keeping the increment docs' rows: a gram's
    union df is ``df_corpus + df_increment`` because each doc is
    indexed exactly once (pinned over randomized append sequences in
    tests/test_operators.py).  Spans in ALREADY-committed docs that
    only now became duplicated are intentionally not re-emitted —
    history is probed, never reprocessed (the same contract as
    :func:`incremental_dedup`).

    Scale shape: corpus text is never touched — only the compact
    (hash, count) index joins against the increment's distinct grams
    (broadcast when small, hash join on 8-byte keys otherwise); the
    island merge windows over increment hits only.

    ``_grams`` (package-internal): a precomputed — typically persisted
    — :func:`_doc_grams` frame of the increment, so callers that need
    both the spans AND the gram delta (the streaming sink) tokenize the
    batch text exactly once.
    """
    grams = (
        _grams
        if _grams is not None
        else _doc_grams(increment, id_col, content_col, k, hash_grams)
    )
    inc_df = (
        grams.select("__g", "doc_id")
        .distinct()
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__dfi"))
    )
    idx = gram_index.select(
        F.col("gram").alias("__g"), F.col("doc_freq").alias("__dfc")
    )
    dup = (
        inc_df.join(idx, "__g", "left")
        .where(
            F.col("__dfi") + F.coalesce(F.col("__dfc"), F.lit(0)) >= min_df
        )
        .select("__g")
    )
    hits = grams.join(dup, on="__g", how="left_semi")
    return _merge_islands(hits, k)


# ------------------------------------------------------- minhash + lsh

def minhash_perms(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """The (multiplier, offset) affine-permutation constants — factored
    out so the DuckDB oracle SQL can inline the SAME constants as the
    Spark expression (universal hashing over 31-bit base hashes; odd
    multipliers < 2^31 keep ``a*h + b`` inside int64 under ANSI)."""
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, 2**31, 2) for _ in range(num_hashes)]
    b = [rng.randrange(2**31) for _ in range(num_hashes)]
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    content_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    portable: bool = False,
    use_arrow: bool = False,
) -> DataFrame:
    """(id, sig: array<bigint>) — per-permutation min over shingle hashes.

    Cost discipline: shingles are built and string-hashed EXACTLY ONCE
    per row (one ``xxhash64`` pass); the ``num_hashes`` permutations
    are then universal hashes ``(a_j*h + b_j) mod p`` (p = 2^31 - 1)
    over the 31-bit base hashes — long multiply-add-mods inside
    codegen, no repeated string work.  Naively embedding the shingle
    expression under each permutation re-tokenizes the document
    num_hashes times (~100x slower at corpus scale).

    All per-row work — no shuffle; streams with the corpus scan.

    ``portable=True`` swaps the shingle hash for the md5-derived
    :func:`portable_hash60` so a DuckDB oracle can reproduce signatures
    bit-for-bit; the default xxhash64 stays the production path (one
    8-byte JVM hash vs crypto digest + hex parse per shingle).
    """
    # Unrolled driver-side with SCALAR literals per permutation: array
    # literals indexed inside a lambda are re-materialized per element
    # evaluation (higher-order fns are interpreted, not codegen'd),
    # which turns O(shingles × perms) into an allocation storm.
    #
    # Overflow discipline: ANSI mode (Spark 4 default) makes long
    # overflow an ERROR, so the affine map must stay inside int64 —
    # base hashes are first reduced to 31 bits (pmod), multipliers and
    # offsets are < 2^31, so a*h + b < 2^63.
    a, b = minhash_perms(num_hashes, seed)

    if portable:
        # md5 over string shingles: the DuckDB oracle reproduces this
        # bit-for-bit (window twin), so the string pass stays.
        hashes = F.transform(
            word_shingles(F.col(content_col), shingle_n),
            lambda s: F.pmod(portable_hash60(s), F.lit(2**31).cast("long")),
        )
    else:
        # Production path: composite token-hash shingles — no
        # shingle strings built; ~4x cheaper base pass (the signature
        # stage dominated this operator's cold wall).
        from ic_spark.functions.text import hashed_word_shingles_sql

        # one parse for the whole shingle+reduce pipeline (the Column
        # build costs ~250 py4j round trips per call)
        hashes = F.expr(
            f"transform({hashed_word_shingles_sql(f'`{content_col}`', shingle_n)},"
            f" h -> pmod(h, CAST({2**31} AS BIGINT)))"
        )
    # Docs shorter than shingle_n have NO shingles (word_shingles'
    # contract) and therefore no signature: an empty array would crash
    # the Arrow kernel and, on the expression path, produce an
    # all-NULL signature whose '' band keys make EVERY short doc a
    # candidate of every other.  MinHash semantics:
    # no shingles -> no signature -> no pairs.  The predicate is on the
    # TOKEN COUNT, not size(__h): a filter referencing the projected
    # shingle column gets the full shingle expression substituted in at
    # pushdown and the whole pipeline runs TWICE per row (shingles are
    # empty iff tokens < n, so the cheap tokenize-only predicate is
    # equivalent, and it pushes to the scan).
    base = (
        _spread(df)
        .where(F.size(tokens(F.col(content_col))) >= shingle_n)
        .select(
            F.col(id_col).alias("id"),
            hashes.alias("__h"),
        )
    )
    if use_arrow:
        # Same signatures, vectorized kernel — mapInArrow, not a
        # pandas UDF: (1) MapInArrow is a PLAN BARRIER, so the
        # optimizer can never inline the kernel into downstream
        # join/generate nodes (alias-inlining a pandas UDF whose child
        # held the let-bound composite-shingle expression hit Spark
        # 4.1's "Cannot evaluate expression: PythonUDF" INTERNAL_ERROR
        # in the LSH candidates plan); (2) the kernel reads the Arrow
        # ListArray's flat values/offsets buffers directly — no
        # Series-of-ndarray boxing, no per-batch np.concatenate.
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StructField,
            StructType,
        )

        # Belt-and-braces post-barrier filter below: the token-count
        # predicate above already excludes zero-shingle rows, and the
        # kernels emit EMPTY signatures (not an error) for any that
        # slip through a filterless caller — a barrier-side filter
        # cannot be substituted into the scan (the pushdown-
        # substitution class), so this costs one int compare per row.
        if not portable:
            # Production path: only split + per-token xxhash64
            # stay JVM-side; the per-shingle composite hash
            # (xxhash64 over each n-token-hash window) moves into the
            # kernel as a vectorized XXH64 hashLong fold over the flat
            # token-hash buffer.  The interpreted per-shingle
            # slice+hash+pmod transforms were ~3.5 s of the sf10
            # signature stage (measured noop-sink: full chain 4.3–4.7 s
            # vs token-hash-only 0.8–1.3 s); the same fold is ~6
            # vectorized passes in numpy.  Bit-equal by construction
            # (Spark's xxhash64 over ARRAY<BIGINT> is exactly the
            # seed-chained hashLong fold the kernel implements; pinned
            # by test_minhash_arrow_equals_expression).
            tok_hashes = F.expr(
                f"transform(split(`{content_col}`, ' '), w -> xxhash64(w))"
            )
            tbase = (
                _spread(df)
                .where(F.size(tokens(F.col(content_col))) >= shingle_n)
                .select(F.col(id_col).alias("id"), tok_hashes.alias("__ht"))
            )
            out_schema = StructType(
                [
                    tbase.schema["id"],
                    StructField("sig", ArrayType(IntegerType()), True),
                ]
            )
            return tbase.mapInArrow(
                _arrow_minhash_from_token_hashes(a, b, shingle_n), out_schema
            ).where(F.size("sig") > 0)
        # Portable base hashes have no JVM-free equivalent (md5 over
        # shingle strings) — keep the shingle hashes JVM-side and run
        # only the permutation passes in the kernel.
        out_schema = StructType(
            [
                base.schema["id"],
                StructField("sig", ArrayType(IntegerType()), True),
            ]
        )
        return base.mapInArrow(_arrow_minhash_batches(a, b), out_schema).where(
            F.size("sig") > 0
        )
    # One JVM-side parse: building num_hashes transforms from F.lit
    # Columns costs ~10 py4j round trips per permutation (~1 s of
    # driver time per query at 64 perms); the SQL string yields the
    # identical Catalyst tree.
    #
    # The mod-p wrap (p = 2^31 - 1, Mersenne prime) is what makes the
    # permutations INDEPENDENT: without it `a*h + b` never overflows
    # int64 and is therefore monotone in h, so every "permutation"
    # ranks shingles identically and array_min degenerates to an
    # affine map of the ONE smallest base hash — 64 copies of a single
    # minhash, banding all-or-nothing, S-curve gone.
    #
    # Element type INT, not BIGINT (narrower types): every element is mod 2^31-1, so the cast is
    # lossless (ANSI-safe) and halves the signature frame's bytes —
    # the checkpointed materialization the LSH queries pay at corpus
    # scale (sf10: ~4.6 -> ~2.9 s) and every downstream band slice.
    # Values are unchanged as integers; band keys stringify the same.
    sig = F.expr(
        "array("
        + ", ".join(
            f"CAST(array_min(transform(`__h`, h -> pmod({a[j]}L * h + {b[j]}L, 2147483647L))) AS INT)"
            for j in range(num_hashes)
        )
        + ")"
    )
    return base.select("id", sig.alias("sig"))


def _perm_minima(values, starts, A, B, P, block: int | None = 65536):
    """Per-segment minima of the 64 affine permutations — the shared
    hot loop of both signature kernels: ``out[j, s] = min over segment
    s of (A[j]*values + B[j]) mod P``.

    ``block`` cache-blocks the loop: the unblocked
    spelling makes ``4 × len(A)`` full passes over the batch's shingle
    buffer (~5 MB at the default 10k-row Arrow batch), which is
    L3-traffic 64 times over — and with 32 workers sharing the LLC the
    per-worker share is L2-sized anyway.  Processing ``block`` values
    at a time (cut at segment boundaries; 64k × 8 B = 512 KB stays
    L2-resident) runs all permutations per block before moving on, so
    the buffer crosses the cache hierarchy once instead of 64 times.
    Bit-identical by construction: the same ops run on the same
    elements, only the iteration order changes (measured 1.1–2.3x on
    the loop depending on buffer size; pinned by the signature-equality
    tests).  ``None`` keeps the unblocked order (A/B instrument).

    Returns an ``(len(A), n_segments)`` int64 matrix.
    """
    import numpy as np

    k = len(starts)
    # int32 output: every element is mod 2^31-1, and the narrower
    # matrix halves the signature bytes the callers serialize to Arrow
    # and the queries checkpoint (assignment from the int64 reduceat
    # rows casts losslessly)
    out = np.empty((len(A), k), dtype=np.int32)
    if block is None:
        tmp = np.empty_like(values)
        for j in range(len(A)):
            np.multiply(values, A[j], out=tmp)
            np.add(tmp, B[j], out=tmp)
            np.remainder(tmp, P, out=tmp)
            out[j] = np.minimum.reduceat(tmp, starts)
        return out
    nv = len(values)
    ends = np.append(starts[1:], nv)
    tmp = np.empty(min(nv, block * 2), dtype=np.int64)
    i0 = 0
    while i0 < k:
        # grow the block whole segments at a time (>= 1 per block)
        i1 = int(np.searchsorted(starts, starts[i0] + block, side="left"))
        i1 = min(max(i1, i0 + 1), k)
        s0, s1 = int(starts[i0]), int(ends[i1 - 1])
        v = values[s0:s1]
        ls = starts[i0:i1] - s0
        if len(v) > len(tmp):  # one oversized segment
            tmp = np.empty(len(v), dtype=np.int64)
        t = tmp[: len(v)]
        for j in range(len(A)):
            np.multiply(v, A[j], out=t)
            np.add(t, B[j], out=t)
            np.remainder(t, P, out=t)
            out[j, i0:i1] = np.minimum.reduceat(t, ls)
        i0 = i1
    return out


def _arrow_minhash_batches(a: list[int], b: list[int]):
    """Vectorized signature kernel for ``mapInArrow`` — identical int64
    arithmetic to the expression path ((a_j*h + b_j) mod p, exact in
    int64: a,h < 2^31 so a*h + b < 2^62), so signatures are bit-equal
    (pinned in tests) while the 64 interpreted HOF passes become 64
    vectorized numpy passes.

    mapInArrow, not a pandas UDF: the Arrow ListArray's flat values/offsets
    buffers ARE the concatenated-hash layout the kernel wants — no
    Series-of-ndarray boxing, no per-batch ``np.concatenate``, and the
    MapInArrow plan node is a barrier the optimizer cannot inline the
    kernel through.  The permutation loop uses ``np.minimum.reduceat``
    over per-row segment starts — no per-row Python.
    """
    import numpy as np
    import pyarrow as pa

    A = np.asarray(a, dtype=np.int64)
    B = np.asarray(b, dtype=np.int64)
    P = np.int64(2147483647)

    def fn(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            lists = batch.column(1)
            # Absolute offsets index the child values array; trim to
            # the used window so the affine pass touches only real
            # data and the final reduceat segment ends at offsets[-1].
            offs = lists.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            values = lists.values.to_numpy(zero_copy_only=False)[
                offs[0] : offs[-1]
            ].astype(np.int64, copy=False)
            starts = offs[:-1] - offs[0]
            empty = np.diff(offs) == 0
            if empty.any() or len(values) == 0:
                # Zero-shingle rows (docs shorter than shingle_n, or
                # NULL text — unreachable via minhash_signatures'
                # token-count pre-filter, but a filterless caller must
                # not crash or corrupt segments): emit an EMPTY
                # signature the post-barrier size(sig) filter drops.
                # reduceat over the non-empty starts alone is exact:
                # empty rows contribute no values, so consecutive
                # non-empty starts are still true segment boundaries.
                ne = ~empty
                k = int(ne.sum())
                if k:
                    out = _perm_minima(values, starts[ne], A, B, P)
                else:
                    out = np.empty((len(A), 0), dtype=np.int32)
                lengths = np.where(empty, 0, len(A))
                offsets = np.concatenate(
                    [[0], np.cumsum(lengths)]
                ).astype(np.int32)
                sig = pa.ListArray.from_arrays(
                    pa.array(offsets),
                    pa.array(out.T.ravel(), type=pa.int32()),
                )
                yield pa.RecordBatch.from_arrays(
                    [ids, sig], names=[batch.schema.names[0], "sig"]
                )
                continue
            # (perms, rows): one reduceat per permutation keeps peak
            # memory at one block-sized temp, not a (perms x |H|)
            # matrix — the in-place + cache-blocked loop lives in
            # _perm_minima.
            out = _perm_minima(values, starts, A, B, P)
            sig = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * len(A), len(A), dtype=np.int32)
                ),
                pa.array(out.T.ravel(), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, sig], names=[batch.schema.names[0], "sig"]
            )

    return fn


def _arrow_minhash_from_token_hashes(a: list[int], b: list[int], n: int):
    """Signature kernel taking TOKEN hashes: computes the
    composite per-shingle hash — Spark's ``xxhash64(slice(ht, i, n))``,
    i.e. the seed-42 hashLong fold over each n-token-hash window —
    the 31-bit ``pmod`` wrap, and the permutation minima, all
    vectorized over the batch's flat token-hash buffer.

    Bit-equal to the expression pipeline by construction: Spark hashes
    an ``ARRAY<BIGINT>`` by folding ``XXH64.hashLong(elem, seed)`` with
    the running hash as seed (seed 42), which is exactly the fold
    below; ``pmod(x, 2^31)`` equals ``x & 0x7FFFFFFF`` in two's
    complement.  Pinned against the expression path in
    ``test_minhash_arrow_equals_expression``.

    Why it exists: the per-shingle interpreted ``xxhash64(slice(...))``
    + ``pmod`` higher-order transforms were ~75% of the JVM signature
    pass at sf10; here each shingle window is six vectorized uint64
    passes (and the JVM keeps only split + per-token xxhash64, whose
    variable-length string hashing has no sane numpy form).
    """
    import numpy as np
    import pyarrow as pa

    A = np.asarray(a, dtype=np.int64)
    B = np.asarray(b, dtype=np.int64)
    P = np.int64(2147483647)
    # XXH64 constants (public algorithm; same values as Spark's XXH64)
    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)
    SEED = np.uint64(42)
    M31 = np.uint64(0x7FFFFFFF)
    U64 = np.uint64(64)
    U27, U29, U31, U32, U33 = (np.uint64(x) for x in (27, 29, 31, 32, 33))

    def _hash_long(inp, seed, o, t):
        """Vectorized Spark ``XXH64.hashLong(inp, seed)`` (uint64),
        fully in-place: ``o`` receives the result,
        ``t`` is scratch — the allocating spelling made ~8 W-sized
        temporaries per fold call (3 calls per batch), pure memory
        traffic; out= kwargs cut it to two reused buffers (measured
        1.8x on the fold, bit-identical — same ops, same order).
        ``seed`` is a scalar or an array not aliased with ``o``/``t``
        (callers rotate buffers)."""
        np.multiply(inp, P2, out=t)
        np.left_shift(t, U31, out=o)
        np.right_shift(t, U64 - U31, out=t)
        np.bitwise_or(o, t, out=o)
        np.multiply(o, P1, out=o)  # k1
        if isinstance(seed, np.ndarray):
            np.add(seed, P5 + np.uint64(8), out=t)
            np.bitwise_xor(o, t, out=o)
        else:
            np.bitwise_xor(o, seed + (P5 + np.uint64(8)), out=o)
        np.left_shift(o, U27, out=t)
        np.right_shift(o, U64 - U27, out=o)
        np.bitwise_or(t, o, out=o)
        np.multiply(o, P1, out=o)
        np.add(o, P4, out=o)
        np.right_shift(o, U33, out=t)
        np.bitwise_xor(o, t, out=o)
        np.multiply(o, P2, out=o)
        np.right_shift(o, U29, out=t)
        np.bitwise_xor(o, t, out=o)
        np.multiply(o, P3, out=o)
        np.right_shift(o, U32, out=t)
        np.bitwise_xor(o, t, out=o)
        return o

    def fn(batches):
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            ids = batch.column(0)
            lists = batch.column(1)
            offs = lists.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            tvals = lists.values.to_numpy(zero_copy_only=False)[
                offs[0] : offs[-1]
            ]
            tvals = np.ascontiguousarray(tvals, dtype=np.int64).view(np.uint64)
            row_starts = offs[:-1] - offs[0]
            lens = np.diff(offs)
            sh_lens = np.maximum(lens - (n - 1), 0)
            empty = sh_lens == 0
            W = len(tvals) - n + 1
            if W <= 0 or not (~empty).any():
                # every row too short for one shingle: all-empty sigs
                sig = pa.ListArray.from_arrays(
                    pa.array(np.zeros(nrows + 1, dtype=np.int32)),
                    pa.array([], type=pa.int32()),
                )
                yield pa.RecordBatch.from_arrays(
                    [ids, sig], names=[batch.schema.names[0], "sig"]
                )
                continue
            # Fold over the n aligned slices of the flat buffer: window
            # i covers tokens [i, i+n).  Windows that straddle a row
            # boundary are computed (vectorization over the flat buffer
            # is the point) and compacted away below.
            b0 = np.empty(W, dtype=np.uint64)
            b1 = np.empty(W, dtype=np.uint64)
            scratch = np.empty(W, dtype=np.uint64)
            h = _hash_long(tvals[0:W], SEED, b0, scratch)
            for k in range(1, n):
                h = _hash_long(tvals[k : k + W], h, b1 if h is b0 else b0, scratch)
            # keep only in-row windows: row r owns [row_starts[r],
            # row_starts[r] + sh_lens[r]) — disjoint, ascending, so the
            # interval-delta cumsum builds the mask in O(W)
            delta = np.zeros(W + 1, dtype=np.int64)
            rs = row_starts[~empty]
            rl = sh_lens[~empty]
            delta[rs] += 1
            delta[rs + rl] -= 1
            valid = np.cumsum(delta[:-1]) > 0
            # pmod(x, 2^31) == x & 0x7FFFFFFF in two's complement
            values = (h[valid] & M31).view(np.int64)
            starts_ne = np.concatenate(
                [[0], np.cumsum(rl)[:-1]]
            ).astype(np.int64)
            out = _perm_minima(values, starts_ne, A, B, P)
            lengths = np.where(empty, 0, len(A))
            offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
            sig = pa.ListArray.from_arrays(
                pa.array(offsets),
                pa.array(out.T.ravel(), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, sig], names=[batch.schema.names[0], "sig"]
            )

    return fn


def lsh_band_keys(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    portable: bool = False,
) -> DataFrame:
    """(id, band, bhash) — one row per document per band.

    The banding step of :func:`minhash_lsh_candidates`, exposed so
    diagnostics (e.g. the bench skew probe's enumerated-pair counter)
    use the SAME key construction the candidate join shuffles on.

    Built as ONE ``F.expr`` SQL parse: composing the guard +
    explode + per-band slice/hash from Column objects cost ~250 py4j
    round trips — 0.2-1.0 s of pure driver time per call, paid TWICE
    per dedup query (banded frame + the sampled probe) at every scale
    factor.  The SQL string parses JVM-side into the identical
    Catalyst tree (same guard, same band keys, pinned by the candidate
    -set and portable-oracle tests)."""
    # A signature shorter than bands×rows_per_band would slice EMPTY
    # arrays for the overflow bands — every document gets the identical
    # hash-of-'' bucket key, the S-curve semantics silently vanish, and
    # the candidate self-join enumerates all n(n-1)/2 pairs.  Fail loud
    # per row instead (codegen'd comparison; negligible cost).
    need = bands * rows_per_band
    guard_sql = (
        f"CASE WHEN size(`sig`) >= {need} THEN `sig` "
        "ELSE raise_error(format_string("
        f"'minhash signature has %s hashes; bands*rows_per_band needs {need}',"
        " size(`sig`))) END"
    )
    if portable:
        # Joined string key: DuckDB can build the identical key, so the
        # oracle replays the banding bit-for-bit.
        band_key = (
            f"concat_ws(',', transform(slice(`sig`, b * {rows_per_band} + 1, "
            f"{rows_per_band}), x -> CAST(x AS STRING)))"
        )
    else:
        # Production key: hash the band's sig slice
        # DIRECTLY — a string key would build a ~40-char decimal
        # string per band per doc (16 strings/doc of interpreted
        # concat_ws+CAST) only to hash it.  Key equality semantics are
        # unchanged: two docs share a band key iff their slice values
        # are equal, up to the SAME 2^-64 xxhash64-collision class the
        # string key already carried (and the exact-Jaccard verify
        # drops any collision-born candidate).  Banding pass at sf10:
        # 3.42 -> 2.65 s (6/6 noop-sink reps); verified end-to-end
        # output-identical on every fixture set (sf0.001/0.01/0.1,
        # sf10, sf10-skew).
        band_key = f"xxhash64(slice(`sig`, b * {rows_per_band} + 1, {rows_per_band}))"
    bk_sql = (
        f"explode(transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'bhash', {band_key})))"
    )
    signatures = signatures.withColumn("sig", F.expr(guard_sql))
    return signatures.select("id", F.expr(bk_sql).alias("bk")).select(
        "id", "bk.band", "bk.bhash"
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    portable: bool = False,
    bucket_target: int = 1024,
    salt: str = "auto",
    detect_sample: float = 0.05,
    max_hot_collect: int = 4096,
    big_side: bool = False,
    probe_memo_key: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding → (id_a, id_b).

    ``probe_memo_key``: stable identity for the hot-key probe
    memo.  The default key is the semanticHash of ``signatures`` —
    which is USELESS when the caller checkpoints the signature frame
    first, because every checkpoint wraps a fresh RDD and hashes
    differently, so repeat invocations re-ran the probe job every time
    (measured: one sample+aggregate+collect per bench rep).  Callers
    that checkpoint should pass the plan key of the UNCHECKPOINTED
    pipeline (see dedup_minhash_lsh); the memo stays advisory-only
    (a stale entry can only pick a different result-identical plan).

    Explode each signature into ``bands`` (band_idx, band_hash) keys;
    pairs agreeing on ANY band meet in an equi-join on the band key.
    Shuffle cost: O(docs × bands) rows of 16 bytes — no pairwise term.
    With sig=64, b=16, r=4 the S-curve threshold is ≈ (1/16)^(1/4) ≈ 0.5
    Jaccard.  Downstream, verify candidates with exact Jaccard
    (``token_jaccard_pairs`` on the candidate set).

    HOT band buckets (boilerplate-heavy corpora: one (band, bhash) key
    shared by a large doc set) are the same COMPUTE skew
    :func:`token_jaccard_pairs` salts against — a bucket of m docs
    enumerates m(m-1)/2 candidate pairs inside ONE join task, and AQE's
    byte-based skew heuristic never fires on 16-byte rows.  The
    operator reuses the exactly-once CELL mechanism: buckets larger
    than ``bucket_target`` are salted into ``k = ceil(m / target)``
    sub-buckets, each row replicated into the k cells containing its
    salt, and the self-join runs on (band, bhash, cell) so a hot
    bucket's quadratic pair work spreads over k(k+1)/2 tasks.  Each
    unordered pair meets in exactly one cell — (min(sa,sb), max(sa,sb))
    when salts differ, the diagonal cell when equal — so the candidate
    set is IDENTICAL to the unsalted join (pinned in tests).

    Detection is PAY-AS-YOU-GO (``salt="auto"``, see
    :func:`_probe_hot_keys`): a sampled band-key probe over
    ``detect_sample`` of the signatures decides the plan.  Uniform
    corpora take the PLAIN banded self-join — zero salting overhead,
    the exact pre-salting plan.  Hot corpora take the cell-salted join
    with per-bucket ``k`` estimated from the same sample and shipped
    as a broadcast literal, so the hot path no longer pays the full
    O(docs × bands) bucket-size aggregate either; if the sampled hot
    set overflows ``max_hot_collect`` the operator falls back to full
    in-plan detection (the aggregate's hot rows broadcast as the
    empty-when-uniform build side of a left join — bounded driver
    memory).  Both join sides repartition identically on the full
    (band, bhash, cell) key, so the exchange canonicalizes once and
    is REUSED — the banded/salted stage is computed a single time per
    query with no persist (and therefore no session cache-manager
    entry to leak across calls).

    ``portable=True`` keeps the joined band values as the (string) join
    key instead of xxhash64-compressing them — join semantics are
    identical (the hash only narrows the shuffled key to 8 bytes), and
    a DuckDB oracle can build the same string key.

    ``big_side=True``: pin the uniform-path self-join to a
    SHUFFLED HASH join, mirroring the salted path's existing hint.
    The banded frame sits above a checkpoint + explode, so Catalyst's
    size estimate is unreliable and the planner broadcast an 800k-row
    build side at 10x scale (a driver-side single-threaded hash build
    of corpus × bands rows; measured 1.4-1.7 s vs 0.9-1.0 s for the
    partition-wise build at sf1, 3/3 interleaved legs, candidate set
    identical).  Callers gate the flag on the corpus SOURCE size
    (explode-aware: bands × on-disk bytes vs the broadcast threshold)
    — a provably tiny corpus keeps the planner's broadcast, which wins
    at fixture scale; unknown sizes count as big, the only safe answer
    at 100 TB where the build side can never broadcast.
    """

    banded = lsh_band_keys(signatures, bands, rows_per_band, portable)
    # Sample the SIGNATURES (docs) before the band explode, so the
    # probe's per-row derivation runs on detect_sample of the corpus;
    # a bucket of m docs still lands Binom(m, f) sampled band rows.
    hot_df = _probe_hot_keys(
        lsh_band_keys(
            signatures.sample(fraction=detect_sample, seed=7),
            bands,
            rows_per_band,
            portable,
        ),
        ["band", "bhash"],
        bucket_target,
        salt,
        detect_sample,
        max_hot_collect,
        # None plan key ⇒ no memoization (see the jaccard site): a
        # key containing None is still hashable and would alias
        # unrelated corpora sharing these params.
        memo_key=(
            None
            if (_pk := (probe_memo_key
                        if probe_memo_key is not None
                        else plan_key(signatures))) is None
            else ("lsh", _pk, bands, rows_per_band, portable, bucket_target,
               detect_sample, max_hot_collect)
        ),
    )
    if hot_df is None:
        # Uniform corpus: the plain banded self-join, zero overhead.
        a = banded.alias("a")
        b = banded.alias("b")
        if big_side:
            b = b.hint("shuffle_hash")
        return (
            a.join(
                b,
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.bhash") == F.col("b.bhash"),
                    F.col("a.id") < F.col("b.id"),
                ],
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    if isinstance(hot_df, str):
        # "full": in-plan detection — only the HOT rows of the
        # bucket-size aggregate broadcast (the full table is
        # O(docs × bands) and must never ship to every executor).
        counts = banded.groupBy("band", "bhash").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        hot_df = counts.where(F.col("__bn") > bucket_target).select(
            "band",
            "bhash",
            F.ceil(F.col("__bn") / F.lit(bucket_target))
            .cast("int")
            .alias("__k"),
        )

    k = F.coalesce(F.col("__k"), F.lit(1))
    salted = banded.join(
        F.broadcast(hot_df), on=["band", "bhash"], how="left"
    ).select(
        "id",
        "band",
        "bhash",
        k.alias("__k"),
        F.pmod(F.xxhash64(F.col("id")), k).cast("int").alias("__s"),
    )
    cells = F.transform(
        F.sequence(F.lit(0), F.col("__k") - 1),
        lambda w: F.struct(
            F.least(F.col("__s"), w).alias("c1"),
            F.greatest(F.col("__s"), w).alias("c2"),
        ),
    )
    exploded = salted.select(
        "id", "band", "bhash", "__s", F.explode(cells).alias("__c")
    ).select(
        "id",
        "band",
        "bhash",
        "__s",
        F.col("__c.c1").alias("__c1"),
        F.col("__c.c2").alias("__c2"),
    )
    # Spread EXPLICITLY on the full join key BEFORE the per-side
    # renames: a hot bucket's cells land on distinct tasks (an
    # advisory repartition would be coalesced by AQE — the bytes look
    # tiny; the pairs are not), and BOTH join sides project off this
    # one Exchange — alias-aware partitioning propagation satisfies
    # the join's required clustering, so ReusedExchange computes the
    # band+salt+explode stage ONCE with no persist (and therefore no
    # session cache-manager entry to leak across calls).
    n_spread = banded.sparkSession.sparkContext.defaultParallelism
    spread = exploded.repartition(
        n_spread, F.col("band"), F.col("bhash"), F.col("__c1"), F.col("__c2")
    )
    a = spread.select(
        F.col("id").alias("id_a"),
        "band",
        "bhash",
        F.col("__s").alias("__sa"),
        "__c1",
        "__c2",
    )
    b = spread.select(
        F.col("id").alias("id_b"),
        F.col("band").alias("__b_band"),
        F.col("bhash").alias("__b_bhash"),
        F.col("__s").alias("__sb"),
        F.col("__c1").alias("__bc1"),
        F.col("__c2").alias("__bc2"),
    )
    # Equal-salt pairs co-occur in every cell touching that salt; the
    # diagonal-only guard keeps exactly one meeting per pair per band.
    cond = (
        (F.col("band") == F.col("__b_band"))
        & (F.col("bhash") == F.col("__b_bhash"))
        & (F.col("__c1") == F.col("__bc1"))
        & (F.col("__c2") == F.col("__bc2"))
        & ((F.col("__sa") != F.col("__sb")) | (F.col("__c1") == F.col("__c2")))
        & (F.col("id_a") < F.col("id_b"))
    )
    return (
        a.join(b.hint("shuffle_hash"), on=cond, how="inner")
        .select("id_a", "id_b")
        .distinct()
    )


# ------------------------------------------------------------- simhash

def simhash(
    df: DataFrame,
    id_col: str,
    content_col: str,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """(id, simhash: bigint) — per-bit majority vote over token hashes.

    For each of ``bits`` positions, sum +1/-1 votes from every token's
    hash bit, then pack sign bits into one bigint.  Pure expression
    (zip_with accumulate over tokens) — no shuffle, no UDF.  Hamming
    distance between simhashes ≈ 1 - cosine similarity of token
    frequency vectors; near-dups land within a few bits.

    ``portable=True`` swaps xxhash64 for the md5-derived 60-bit
    :func:`portable_hash60` (so a DuckDB oracle reproduces the votes);
    callers must then keep ``bits <= 60``.
    """
    if portable and bits > 60:
        raise ValueError("portable simhash: bits must be <= 60 (60-bit hash)")
    zero = F.array_repeat(F.lit(0), bits)
    # Token hashes are computed ONCE per token (materialized projection);
    # the per-bit vote works on the long hash.  Shift amounts must be
    # literal ints in Spark, so the per-bit structure is unrolled
    # driver-side (bits is small and fixed); the per-ROW work is one
    # codegen expression, no UDF.
    token_hash = (
        (lambda t: portable_hash60(t)) if portable else (lambda t: F.xxhash64(t))
    )
    hashed = _spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(tokens(F.col(content_col)), token_hash).alias("__th"),
    )
    bit_votes = lambda h: F.array(
        *[
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            for i in range(bits)
        ]
    )
    votes = F.aggregate(
        F.col("__th"), zero, lambda acc, h: F.zip_with(acc, bit_votes(h), lambda x, y: x + y)
    )
    # Materialize the vote array once, then pack bits from the column
    # reference (keeps the expression tree linear in `bits`).
    with_votes = hashed.select("id", votes.alias("__votes"))
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed.bitwiseOR(
            F.when(
                F.element_at(F.col("__votes"), i + 1) > 0,
                F.lit(1 << i if i < 63 else -(1 << 63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    return with_votes.select("id", packed.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — bit_count is a Spark built-in."""
    return F.bit_count(a.bitwiseXOR(b))
