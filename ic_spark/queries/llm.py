"""LLM-data-pipeline queries: dedup, text analysis, similarity search.

Operators with portable semantics carry a DuckDB oracle; MinHash/
SimHash/LSH use engine hash functions (xxhash64) with no DuckDB
equivalent, so they are declared WITHOUT oracle (driver records the
weaker rows-only check) and their correctness properties are pinned by
tests/test_operators.py instead (determinism, exact-dup detection,
LSH-vs-brute-force recall).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from ic_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_candidates,
    minhash_perms,
    minhash_signatures,
    simhash,
    substring_dup_spans,
    token_jaccard_pairs,
)
from ic_spark.operators.similarity import (
    brute_force_top_k,
    ivf_top_k,
    lsh_top_k,
    semantic_dedup,
)
from ic_spark.functions.text import (
    EN_STOPWORDS,
    doc_fingerprint,
    langid_heuristic,
    quality_score,
    tokens,
)
from ic_spark.queries.registry import query
from ic_spark.tables import load_table

SQL_STOPLIST = "[" + ", ".join(f"'{s}'" for s in EN_STOPWORDS) + "]"


# ------------------------------------------------------------- dedup

# ONE spelling of the dedup operators' parameters, shared by the
# production query, the md5-portable driver twin, AND bench.py's
# work-normalizing pair enumerator: hardcoded copies would silently
# desync if a query retuned.
_MINHASH_NUM, _MINHASH_N, _MINHASH_BANDS, _MINHASH_R = 64, 3, 16, 4
_JACCARD_BLOCK = ["lang", "source"]
_JACCARD_THRESHOLD = 0.8


def _verify_pairs_single_pass(cands, sh, threshold: float = 0.5):
    """Exact-Jaccard verification of LSH candidate pairs in ONE pass
    over the shingle frame.

    Joining the shingle frame twice (as sh_a and sh_b) would need a
    checkpoint, because without a barrier each join re-runs the corpus
    scan + semi-join + shingle pass.  Fused shape: explode each candidate pair
    into its two member ids, join the (un-materialized) shingle frame
    ONCE, and regroup by pair — the heavy shingle arrays cross exactly
    one exchange (the pair groupBy) and the third checkpoint
    materialization disappears.  Candidate pairs are distinct with
    id_a < id_b, so each group holds exactly its two member rows and
    ``first(..., ignorenulls)`` is deterministic (one non-null per
    side).  Results are row-identical to the two-join shape (pinned by
    the portable oracle + the production/portable equality test).

    ``sh`` must be (doc_id, sh) with one row per candidate doc;
    ``cands`` is consumed twice (member-id semi-join upstream + the
    pair explode here) and should be checkpointed by the caller.
    """
    pe = cands.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("doc_id")
    )
    pairs = (
        sh.join(pe, on="doc_id")
        .groupBy("id_a", "id_b")
        .agg(
            F.first(
                F.when(F.col("doc_id") == F.col("id_a"), F.col("sh")),
                ignorenulls=True,
            ).alias("sh_a"),
            F.first(
                F.when(F.col("doc_id") == F.col("id_b"), F.col("sh")),
                ignorenulls=True,
            ).alias("sh_b"),
        )
        # Length filter (J >= t needs min >= t*max shingles): two int
        # compares ahead of each intersect — result-identical.
        .where(
            F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
            >= threshold * F.greatest(F.size("sh_a"), F.size("sh_b"))
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    raw = inter.cast("double") / union.cast("double")
    return (
        pairs.select(
            "id_a",
            "id_b",
            # filter on the RAW ratio like the oracle; round for display
            F.round(raw, 6).alias("jaccard"),
            raw.alias("__raw"),
        )
        .where(F.col("__raw") >= threshold)
        .drop("__raw")
    )


def _broadcast_threshold_bytes(spark: SparkSession | None) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (mirrors the planner's ACTUAL decision instead of hard-coding its
    default).  Falls back to Spark's default 10 MiB
    when no session is at hand or the value is unparsable."""
    default = 10 << 20
    if spark is None:
        return default
    try:
        raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        s = raw.strip().lower()
        if s.endswith("b"):
            s = s[:-1]
        mult = 1
        for suf, m_ in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                        ("t", 1 << 40), ("p", 1 << 50)):
            if s.endswith(suf):
                mult, s = m_, s[:-1]
                break
        return int(s) * mult
    except Exception:
        return default


def _lsh_big_side(sf_dir: str, spark: SparkSession | None = None) -> bool:
    """Join-strategy gate for the LSH candidate self-join: the
    banded side is corpus × bands rows, so broadcast is only sane when
    the corpus SOURCE is tiny even after the explode — gate
    bands × on-disk bytes against the session's broadcast threshold
    (the planner's own gate; default 10 MiB when unknown).
    Unknown size (object store) counts as big: at scale the build side
    can never broadcast, and the shuffled-hash join is the designed
    strategy (the salted path already pins it)."""
    from ic_spark.tables import _source_bytes, table_path

    src = _source_bytes(table_path(sf_dir, "documents"))
    return src is None or src * _MINHASH_BANDS > _broadcast_threshold_bytes(spark)


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
    """,
    headline=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str):
    """Exact dedup on content hash; survivors = min doc_id per text."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id").select("doc_id")


@query(
    "dedup_fingerprint",
    oracle="""
    SELECT MIN(doc_id) AS doc_id FROM documents
    GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str):
    """Bag-of-words dedup: catches token-reordered copies."""
    d = load_table(spark, sf_dir, "documents")
    return fingerprint_dedup(d, "text", "doc_id").select("doc_id")


@query(
    "dedup_token_jaccard",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6)
             AS jaccard
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    """,
    headline=True,
)
def dedup_token_jaccard(spark: SparkSession, sf_dir: str):
    """Exact pairwise token-set Jaccard within (lang, source) blocks."""
    d = load_table(spark, sf_dir, "documents")
    return token_jaccard_pairs(
        d, "doc_id", "text", _JACCARD_BLOCK, threshold=_JACCARD_THRESHOLD
    )


@query("dedup_minhash_lsh", oracle=None, headline=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str):
    """MinHash-LSH near-dup pairs, verified with exact shingle Jaccard.

    No SQL oracle (xxhash64-based signatures); rows-only driver check.
    Properties pinned in tests: exact duplicates always pair; verified
    Jaccard is exact.
    """
    d = load_table(spark, sf_dir, "documents")
    # Signatures feed BOTH sides of the LSH self-join and the verify
    # step — persist AND barrier with count(): without the barrier
    # 3-4 downstream consumers start concurrent first
    # computes of the signature plan, re-running the (now mod-p,
    # pricier) 64-permutation expression up to 4x (~17 s vs ~7 s cold
    # at sf0.1).  Two extra ~0.1 s jobs buy single-compute certainty.
    # Arrow signature kernel: bit-equal to the expression path (pinned
    # by test_minhash_arrow_equals_expression) but the 64 interpreted
    # higher-order-function passes become 64 vectorized numpy passes
    # over one concatenated hash buffer — the signature stage dominated
    # this query's wall time after the mod-p independence fix.
    # Checkpoint, NOT persist (same reasoning as
    # packing.pack_shards): the returned frame still reads
    # these intermediates, so an explicit unpersist is impossible, and
    # a persist leaks one CacheManager entry per sweep invocation for
    # the whole session — which ALSO lets the bench's later reps serve
    # from the first rep's cache via plan-matching.  The checkpoint
    # materializes once (the same single-compute guarantee the persist
    # + count barrier bought) and its blocks release with the frame.
    # stable_checkpoint upgrades to reliable checkpoints on clusters
    # with a checkpoint dir.
    from ic_spark.plans.checkpoint import stable_checkpoint

    raw_sigs = minhash_signatures(
        d, "doc_id", "text", num_hashes=_MINHASH_NUM,
        shingle_n=_MINHASH_N, use_arrow=True
    )
    # Probe-memo key from the UNCHECKPOINTED pipeline: every
    # checkpoint wraps a fresh RDD, so keying on the checkpointed frame
    # would re-run the hot-key probe job on every invocation.
    from ic_spark.operators.dedup import plan_key

    sigs_key = plan_key(raw_sigs)
    sigs = stable_checkpoint(raw_sigs)
    cands = stable_checkpoint(minhash_lsh_candidates(
        sigs, bands=_MINHASH_BANDS, rows_per_band=_MINHASH_R,
        big_side=_lsh_big_side(sf_dir, spark),
        probe_memo_key=sigs_key,
    ))
    # Verify candidates with exact 3-shingle Jaccard.  Shingles are
    # only materialized for documents that appear in a candidate pair
    # (semi-join first): the expensive array work runs on the candidate
    # set, not the corpus — at 100 TB that is the difference between
    # re-shingling everything and re-shingling ~0.1%.
    from ic_spark.functions.text import hashed_word_shingles

    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("doc_id")).distinct()
    # Hashed sorted shingles: 8-byte compares in the verify intersect
    # instead of ~20-char strings (~2-3x on adversarial candidate
    # explosions — hot LSH buckets full of near-threshold pairs), and
    # composite token-hash shingles skip building the shingle
    # strings at all.  Jaccard values are identical barring 64-bit
    # collisions inside one pair (~|sh|^2/2^64 — negligible), same
    # trade token_jaccard_pairs documents.
    # No checkpoint on sh: _verify_pairs_single_pass consumes it
    # exactly once, so no barrier is needed — two checkpoint
    # materializations for the whole query instead of three.
    sh = (
        d.join(cand_ids, on="doc_id", how="left_semi")
        .select(
            F.col("doc_id"),
            # string-name form -> single SQL parse inside
            F.array_sort(
                F.array_distinct(hashed_word_shingles("text", 3))
            ).alias("sh"),
        )
    )
    # No broadcast hints inside: the candidate set (and its shingle
    # arrays) scales with near-dup density x corpus size — a hard
    # hint OOMs the driver on dup-heavy corpora. AQE broadcasts at
    # runtime while the sides are actually small.
    return _verify_pairs_single_pass(cands, sh, threshold=0.5)


@query(
    "dedup_substring_spans",
    headline=True,
    oracle="""
    -- Repeated >=8-token spans across documents (exact-substring dedup
    -- at k-gram granularity): k-grams in >=2 distinct docs, positions
    -- merged gaps-and-islands style while pos - prev_pos <= 8.
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ),
    grams AS (
        SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM toks)
    ),
    dup AS (
        SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams)
        GROUP BY g HAVING COUNT(*) >= 2
    ),
    hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM hits
    ),
    grp AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        FROM isl
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
           MAX(pos) + 8 - MIN(pos) AS span_tokens
    FROM grp GROUP BY doc_id, gid
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str):
    """Exact repeated-substring spans (operators/dedup.py::
    substring_dup_spans — Lee et al. 2022 semantics at k-gram
    granularity): maximal token ranges covered by 8-grams occurring in
    >= 2 distinct documents.  Production path hashes grams to 8-byte
    keys before the shuffle; output spans are hash-free, so the string
    oracle matches exactly."""
    d = load_table(spark, sf_dir, "documents")
    return substring_dup_spans(d, "doc_id", "text", k=8, min_df=2)


@query(
    "dedup_substring_incremental",
    oracle="""
    -- Incremental spans == batch-over-union restricted to the
    -- increment's docs; corpus ∪ increment is the whole table here, so
    -- df is counted over ALL documents and output filters to the
    -- increment (doc_id % 4 = 0).
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ),
    grams AS (
        SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM toks)
    ),
    dup AS (
        SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams)
        GROUP BY g HAVING COUNT(*) >= 2
    ),
    hits AS (
        SELECT doc_id, pos FROM grams
        WHERE g IN (SELECT g FROM dup) AND doc_id % 4 = 0
    ),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM hits
    ),
    grp AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        FROM isl
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
           MAX(pos) + 8 - MIN(pos) AS span_tokens
    FROM grp GROUP BY doc_id, gid
    """,
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str):
    """Continuous-ingest repeated-substring spans (operators/dedup.py::
    incremental_substring_spans): the committed corpus (doc_id % 4 !=
    0) is reduced to a (gram-hash, doc_freq) index once; the new batch
    (doc_id % 4 == 0) probes it plus its own grams — corpus text never
    re-read.  Streaming == batch is additionally pinned over randomized
    append sequences in tests/test_operators.py."""
    from ic_spark.operators.dedup import (
        incremental_substring_spans,
        substring_gram_index,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    inc = d.where(F.col("doc_id") % 4 == 0)
    idx = substring_gram_index(corpus, "doc_id", "text", k=8)
    return incremental_substring_spans(inc, idx, "doc_id", "text", k=8, min_df=2)


@query("dedup_simhash", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str):
    """64-bit SimHash fingerprint per document — the production path
    (xxhash64 token hashes; rows-only check).  The oracle-checked
    portable variant below pins the identical vote/pack pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text")


# --------------------------- oracle-portable minhash/simhash variants
#
# The production paths above hash with xxhash64 (engine-specific — no
# DuckDB equivalent, so the driver can only do a rows-only check).
# These variants run the SAME pipeline with the md5-derived 60-bit
# portable hash (functions/text.py::portable_hash60), which DuckDB can
# reproduce bit-for-bit — giving the driver a full hash-checked row.
# pytest pins portable == xxhash64 on the verified-pair output
# (tests/test_operators.py), bridging the oracle back to the
# production path the same way prep_contamination_check does.

# (constants hoisted above the dedup queries — see there)


def _minhash_portable_oracle(threshold: float = 0.5) -> str:
    a, b = minhash_perms(_MINHASH_NUM)
    # (a*h + b) % p with p = 2^31 - 1 — the same mod-p wrap as the
    # Spark expression (operands are non-negative, so DuckDB's % ==
    # Spark's pmod).
    sig_terms = ",\n               ".join(
        f"list_min(list_transform(hs, h -> ({a[j]} * h + {b[j]}) % 2147483647))"
        for j in range(_MINHASH_NUM)
    )
    band_list = ", ".join(str(i) for i in range(_MINHASH_BANDS))
    n, r = _MINHASH_N, _MINHASH_R
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        -- docs shorter than n have NO shingles and NO signature
        -- (word_shingles' contract; the signer filters them out)
        SELECT doc_id,
               list_transform(range(0, len(t) - {n} + 1),
                              i -> array_to_string(list_slice(t, i + 1, i + {n}), ' ')) AS shingles
        FROM toks WHERE len(t) >= {n}
    ),
    hashed AS (
        SELECT doc_id,
               list_transform(shingles, s ->
                 CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648) AS hs
        FROM sh
    ),
    sigs AS (
        SELECT doc_id,
               [{sig_terms}] AS sig
        FROM hashed
    ),
    bands AS (
        SELECT doc_id, band,
               array_to_string(list_slice(sig, band * {r} + 1, band * {r} + {r}), ',') AS bkey
        FROM sigs, (SELECT unnest([{band_list}]) AS band)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    dsh AS (
        SELECT doc_id, list_distinct(shingles) AS sh FROM sh
        WHERE doc_id IN (SELECT id_a FROM cand UNION SELECT id_b FROM cand)
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
    FROM cand c JOIN dsh x ON x.doc_id = c.id_a JOIN dsh y ON y.doc_id = c.id_b
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= {threshold}
    """


@query("dedup_minhash_lsh_portable", oracle=_minhash_portable_oracle())
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str):
    """MinHash-LSH near-dup pairs with the oracle-portable md5 hash —
    the driver-checked twin of dedup_minhash_lsh (same signatures →
    banding → exact-Jaccard-verify pipeline, same permutation
    constants; only the shingle hash and the band-key compression
    differ, neither of which changes join semantics)."""
    d = load_table(spark, sf_dir, "documents")
    # checkpoint, not persist: see dedup_minhash_lsh
    from ic_spark.plans.checkpoint import stable_checkpoint

    raw_sigs = minhash_signatures(
        d, "doc_id", "text", num_hashes=_MINHASH_NUM, shingle_n=_MINHASH_N,
        portable=True,
    )
    # stable probe-memo key: see dedup_minhash_lsh
    from ic_spark.operators.dedup import plan_key

    sigs_key = plan_key(raw_sigs)
    sigs = stable_checkpoint(raw_sigs)
    cands = stable_checkpoint(minhash_lsh_candidates(
        sigs, bands=_MINHASH_BANDS, rows_per_band=_MINHASH_R, portable=True,
        big_side=_lsh_big_side(sf_dir, spark),
        probe_memo_key=sigs_key,
    ))
    from ic_spark.functions.text import word_shingles

    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("doc_id")).distinct()
    # No checkpoint on sh: single consumer via the fused verify —
    # same reasoning as the production twin.  The length filter inside
    # the fused verify is result-identical here too (J >= t implies
    # min >= t*max since J <= min/max).
    sh = (
        d.join(cand_ids, on="doc_id", how="left_semi")
        .select(
            F.col("doc_id"),
            F.array_distinct(word_shingles(F.col("text"), _MINHASH_N)).alias("sh"),
        )
    )
    return _verify_pairs_single_pass(cands, sh, threshold=0.5)


_SIMHASH_BITS = 60


def _simhash_portable_oracle() -> str:
    vote = (
        "CASE WHEN list_sum(list_transform(hs, h -> "
        "CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        "THEN {w} ELSE 0 END"
    )
    packed = "\n         + ".join(
        vote.format(i=i, w=1 << i) for i in range(_SIMHASH_BITS)
    )
    return f"""
    WITH th AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '), t ->
                 CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT)) AS hs
        FROM documents
    )
    SELECT doc_id AS id,
           CAST({packed} AS BIGINT) AS simhash
    FROM th
    """


@query("dedup_simhash_portable", oracle=_simhash_portable_oracle())
def dedup_simhash_portable(spark: SparkSession, sf_dir: str):
    """60-bit SimHash with the oracle-portable md5 token hash — the
    driver-checked twin of dedup_simhash (identical per-bit majority
    vote + sign-bit packing; only the token hash differs)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text", bits=_SIMHASH_BITS, portable=True)


# ------------------------------------------------------ text analysis

@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           ROUND(CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str):
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.round(total_len.cast("double") / F.size(toks), 6).alias("avg_token_len"),
    )


@query(
    "text_quality_langid",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           ROUND(0.5 * LEAST(1.0, len(toks) / 50.0)
               + 0.5 * LEAST(1.0, len(list_intersect(toks, {SQL_STOPLIST})) / 3.0), 6)
             AS quality,
           CASE WHEN len(list_intersect(toks, {SQL_STOPLIST})) >= 2
                THEN 'en' ELSE 'unknown' END AS lang_pred
    FROM t
    """,
)
def text_quality_langid(spark: SparkSession, sf_dir: str):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        langid_heuristic(F.col("text")).alias("lang_pred"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


# --------------------------------------------------------- similarity

@query(
    "sim_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings)
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT q.query_id, c.neighbor_id,
               ROUND(list_cosine_similarity(CAST(c.cv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) AS cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(CAST(c.cv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC,
                          c.neighbor_id ASC
               ) AS rank
        FROM c, q WHERE q.query_id <> c.neighbor_id
    ) WHERE rank <= 10
    """,
    headline=True,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str):
    """Exact cosine top-10 for query vectors vec_id < 5 (broadcast
    queries × streamed corpus; map-side partial top-k)."""
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_top_k(
        e, e.where(F.col("vec_id") < 5), id_col="vec_id", vec_col="embedding", k=10
    )


# IVF top-10 oracle (deterministic lowest-id seed centroids, cosine
# cell assignment, nprobe=4 probes, exact in-cell cosine rank) —
# shared by sim_ivf_topk (Arrow assigner) and sim_ivf_topk_expr
# (pure-expression twin): the two paths are pinned bit-equal in
# pytest, so one oracle checks both (the expr row is oracle-exact).
_IVF_ORACLE = """
    WITH seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cidx,
               CAST(embedding AS DOUBLE[]) AS cv
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    corpus AS (
        SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS cvv,
               (SELECT s.cidx FROM seeds s
                ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) DESC,
                         s.cidx ASC LIMIT 1) AS cell
        FROM embeddings e
    ),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv,
                   s.cidx AS cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), s.cv) DESC,
                              s.cidx ASC) AS pr
            FROM embeddings q, seeds s WHERE q.vec_id < 5
        ) WHERE pr <= 4
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT p.query_id, c.neighbor_id,
               ROUND(list_cosine_similarity(p.qv, c.cvv), 6) AS cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY list_cosine_similarity(p.qv, c.cvv) DESC, c.neighbor_id ASC
               ) AS rank
        FROM probes p JOIN corpus c ON p.cell = c.cell
        WHERE p.query_id <> c.neighbor_id
    ) WHERE rank <= 10
    """


@query("sim_ivf_topk", oracle=_IVF_ORACLE, headline=True)
def sim_ivf_topk(spark: SparkSession, sf_dir: str):
    """IVF approximate top-10: corpus coarse-quantized into 16 cells
    (deterministic lowest-id seed centroids → oracle-checkable), each
    query probes its 4 nearest cells.  The scale path for ANN when the
    query set is too big to broadcast against the whole corpus: scored
    candidates are ~nprobe/nlist of the corpus per query.

    Runs the Arrow/numpy cell assigner (one matmul per batch instead of
    nlist interpreted cosines per row; ~2x faster at sf0.1) — pinned
    bit-equal to the expression assigner (``sim_ivf_topk_expr``) in
    tests, so the shared oracle checks both."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_top_k(
        e,
        e.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        nlist=16,
        nprobe=4,
        use_arrow=True,
    )


@query("sim_ivf_topk_expr", oracle=_IVF_ORACLE, headline=True)
def sim_ivf_topk_expr(spark: SparkSession, sf_dir: str):
    """Same IVF search with the pure-expression cell assigner (zero
    Python in the plan — the whole-stage-codegen twin; formerly the
    headline ``sim_ivf_topk`` path, renamed when the Arrow assigner was
    promoted).  Oracle-exact (shares _IVF_ORACLE with the
    Arrow path, to which it is pinned bit-equal in tests)."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_top_k(
        e,
        e.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        nlist=16,
        nprobe=4,
    )


# Whole-vector PQ/ADC oracle (no cells, no residual): seed codebooks
# from the ksub lowest-id vectors' raw slices, per-subspace L2-argmin
# codes, ADC lookup sums over the full corpus, ascending
# (sim_pq_topk is oracle-exact, not rows-only).
_PQ_ORACLE = """
WITH dims AS (SELECT UNNEST(range(0, 8)) AS j),
book AS (
    SELECT d.j, sk.k, list_slice(sk.v, d.j * 8 + 1, d.j * 8 + 8) AS bv
    FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS k,
                 CAST(embedding AS DOUBLE[]) AS v
          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)) sk
    CROSS JOIN dims d
),
sub AS (
    SELECT e.vec_id, d.j,
           list_slice(CAST(e.embedding AS DOUBLE[]), d.j * 8 + 1, d.j * 8 + 8) AS sv
    FROM embeddings e CROSS JOIN dims d
),
codes AS (
    SELECT vec_id, j, k FROM (
        SELECT s.vec_id, s.j, b.k,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY list_aggregate(list_transform(range(1, 9),
                            i -> (s.sv[i] - b.bv[i]) * (s.sv[i] - b.bv[i])), 'sum') ASC,
                          b.k ASC) AS rn
        FROM sub s JOIN book b ON b.j = s.j
    ) WHERE rn = 1
),
qsub AS (
    SELECT q.vec_id AS query_id, d.j,
           list_slice(CAST(q.embedding AS DOUBLE[]), d.j * 8 + 1, d.j * 8 + 8) AS sv
    FROM embeddings q CROSS JOIN dims d WHERE q.vec_id < 5
),
adc AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           SUM(list_aggregate(list_transform(range(1, 9),
                 i -> (q.sv[i] - b.bv[i]) * (q.sv[i] - b.bv[i])), 'sum')) AS dist
    FROM qsub q
    JOIN codes c ON c.j = q.j
    JOIN book b ON b.j = c.j AND b.k = c.k
    WHERE c.vec_id <> q.query_id
    GROUP BY q.query_id, c.vec_id
)
SELECT query_id, neighbor_id, adc_distance, rank FROM (
    SELECT query_id, neighbor_id, ROUND(dist, 6) AS adc_distance,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rank
    FROM adc
) WHERE rank <= 10
    """


@query("sim_pq_topk", oracle=_PQ_ORACLE, headline=True)
def sim_pq_topk(spark: SparkSession, sf_dir: str):
    """Product-quantized ANN (operators/similarity.py::pq_top_k): the
    corpus collapses to m small codes per vector and queries score via
    asymmetric-distance lookup tables — the memory-bound 100 TB path
    (m ints vs dim floats per scored vector).  Oracle-exact
    (_PQ_ORACLE replays codebook seeding, L2-argmin codes and ADC in
    DuckDB); the code assignment and ADC arithmetic are additionally
    pinned against a Python reference in tests/test_operators.py."""
    from ic_spark.operators.similarity import pq_top_k

    e = load_table(spark, sf_dir, "embeddings")
    # Arrow code assignment: one numpy broadcast per subspace instead
    # of m x ksub interpreted HOF aggregates per row (pinned equal to
    # the expression path in tests, the _arrow_cell_assigner trade).
    return pq_top_k(
        e,
        e.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        m=8,
        ksub=16,
        use_arrow=True,
    )


# DuckDB replay of the ENTIRE deterministic IVFADC build at the
# registry parameters (nlist=16, nprobe=4, m=8, ksub=16, one PQ
# Lloyd round, queries vec_id < 5, k=10): seeded coarse centroids,
# exact residuals, seed codebooks, grouped-mean refine (empty codes
# keep seeds), L2-argmin codes, cosine probes, ADC lookup sums.
# Shared by sim_ivfpq_topk (in-memory) and sim_ivfpq_indexed_topk
# (persisted serve) — the two paths are pinned bit-equal in pytest,
# so one oracle checks both (both rows are oracle-exact).
_IVFPQ_ORACLE = """
    WITH dims AS (
        SELECT UNNEST(range(0, 8)) AS j
    ),
    seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cidx,
               CAST(embedding AS DOUBLE[]) AS cv
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    assigned AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
               (SELECT s.cidx FROM seeds s
                ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) DESC,
                         s.cidx ASC LIMIT 1) AS cell
        FROM embeddings e
    ),
    resid AS (
        SELECT a.vec_id, a.cell,
               list_transform(range(1, 65), i -> a.v[i] - s.cv[i]) AS r
        FROM assigned a JOIN seeds s ON s.cidx = a.cell
    ),
    seedbook AS (
        SELECT d.j, rk.k, list_slice(rk.r, d.j * 8 + 1, d.j * 8 + 8) AS bv
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS k, r
              FROM (SELECT * FROM resid ORDER BY vec_id LIMIT 16)) rk
        CROSS JOIN dims d
    ),
    subvecs AS (
        SELECT r.vec_id, r.cell, d.j,
               list_slice(r.r, d.j * 8 + 1, d.j * 8 + 8) AS sv
        FROM resid r CROSS JOIN dims d
    ),
    assign0 AS (
        SELECT vec_id, j, sv, k FROM (
            SELECT s.vec_id, s.j, s.sv, sb.k,
                   ROW_NUMBER() OVER (
                     PARTITION BY s.vec_id, s.j
                     ORDER BY list_aggregate(list_transform(range(1, 9),
                                i -> (s.sv[i] - sb.bv[i]) * (s.sv[i] - sb.bv[i])), 'sum') ASC,
                              sb.k ASC) AS rn
            FROM subvecs s JOIN seedbook sb ON sb.j = s.j
        ) WHERE rn = 1
    ),
    bookmeans AS (
        SELECT j, k, list(mv ORDER BY t) AS bv
        FROM (
            SELECT j, k, t, AVG(x) AS mv
            FROM (SELECT j, k, UNNEST(sv) AS x, UNNEST(range(1, 9)) AS t FROM assign0)
            GROUP BY j, k, t
        ) GROUP BY j, k
    ),
    book AS (
        SELECT sb.j, sb.k, COALESCE(bm.bv, sb.bv) AS bv
        FROM seedbook sb LEFT JOIN bookmeans bm ON bm.j = sb.j AND bm.k = sb.k
    ),
    codes AS (
        SELECT vec_id, cell, j, k FROM (
            SELECT s.vec_id, s.cell, s.j, b.k,
                   ROW_NUMBER() OVER (
                     PARTITION BY s.vec_id, s.j
                     ORDER BY list_aggregate(list_transform(range(1, 9),
                                i -> (s.sv[i] - b.bv[i]) * (s.sv[i] - b.bv[i])), 'sum') ASC,
                              b.k ASC) AS rn
            FROM subvecs s JOIN book b ON b.j = s.j
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell, qv FROM (
            SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv,
                   s.cidx AS cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), s.cv) DESC,
                              s.cidx ASC) AS pr
            FROM embeddings q, seeds s WHERE q.vec_id < 5
        ) WHERE pr <= 4
    ),
    qsub AS (
        SELECT p.query_id, p.cell, d.j,
               list_transform(range(d.j * 8 + 1, d.j * 8 + 9), i -> p.qv[i] - s.cv[i]) AS sv
        FROM probes p JOIN seeds s ON s.cidx = p.cell CROSS JOIN dims d
    ),
    adc AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               SUM(list_aggregate(list_transform(range(1, 9),
                     i -> (q.sv[i] - b.bv[i]) * (q.sv[i] - b.bv[i])), 'sum')) AS dist
        FROM qsub q
        JOIN codes c ON c.cell = q.cell AND c.j = q.j
        JOIN book b ON b.j = c.j AND b.k = c.k
        WHERE c.vec_id <> q.query_id
        GROUP BY q.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, adc_distance, rank FROM (
        SELECT query_id, neighbor_id, ROUND(dist, 6) AS adc_distance,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rank
        FROM adc
    ) WHERE rank <= 10
    """


@query("sim_ivfpq_topk", oracle=_IVFPQ_ORACLE, headline=True)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str):
    """IVF-PQ composed ANN (operators/similarity.py::ivf_pq_top_k —
    the IVFADC layout): coarse cells prune the scan to ~nprobe/nlist
    of the corpus, PQ codes of the cell RESIDUAL collapse scoring to m
    array lookups, one Lloyd round tightens the codebooks.  Oracle-exact
    (shares _IVFPQ_ORACLE with the persisted-index twin);
    code/ADC arithmetic, cluster retrieval and the
    recall-vs-brute-force floor are pinned in tests/test_operators.py.
    A headline query: this is the flagship ANN layout, so a perf
    regression in it must show in the headline bench; the 22-query
    subtotal without it is emitted separately by bench.py."""
    from ic_spark.operators.similarity import ivf_pq_top_k

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_top_k(
        e,
        e.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        nlist=16,
        nprobe=4,
        m=8,
        ksub=16,
        pq_refine_iters=1,
        # the Arrow scale path (numpy cell/code assignment; at dsub=2
        # numpy's 2-term sums equal the expression fold bit-for-bit,
        # pinned in tests) — this is the layout the 100 TB claim cites
        use_arrow=True,
    )


@query("sim_ivfpq_indexed_topk", oracle=_IVFPQ_ORACLE)
def sim_ivfpq_indexed_topk(spark: SparkSession, sf_dir: str):
    """Persisted-index ANN serve (operators/similarity.py::
    build_ivf_pq_index + ivf_pq_index_top_k): the build/serve split of
    production ANN — train + encode ONCE into a codes table
    hive-partitioned by coarse cell plus an index-sized index.json,
    then serve queries with dynamic partition pruning skipping every
    unprobed cell's files (plan-pinned).  Value equality with the
    in-memory ivf_pq_top_k is additionally pinned in
    tests/test_operators.py::test_ivfpq_persisted_index_equals_inmemory.

    The DuckDB oracle replays the WHOLE deterministic build:
    lowest-id seed centroids -> cosine cell assignment (ties ->
    lowest index) -> exact residuals -> seed codebooks from the ksub
    lowest-id residual slices -> ONE Lloyd round (per-subspace L2
    argmin + grouped elementwise mean; empty codes keep their seeds,
    mirroring pq_codebooks' update-only-assigned loop) -> corpus codes
    against the refined books -> nprobe=4 cosine probes -> per-subspace
    ADC lookup sums, ranked ascending.  Engine float divergence only
    enters through DuckDB's AVG summation order (ulp-level, argmin- and
    round-6-safe); every other step is order-pinned arithmetic."""
    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_top_k,
    )

    e = load_table(spark, sf_dir, "embeddings")
    idx = ivfpq_index_dir(sf_dir)
    if idx in _IVFPQ_IDX_BUILT:
        return ivf_pq_index_top_k(
            spark,
            idx,
            e.where(F.col("vec_id") < 5),
            k=10,
            nprobe=4,
            use_arrow=True,
        )
    build_ivf_pq_index(
        e, idx, nlist=16, m=8, ksub=16, pq_refine_iters=1, use_arrow=True
    )
    _IVFPQ_IDX_BUILT.add(idx)
    return ivf_pq_index_top_k(
        spark,
        idx,
        e.where(F.col("vec_id") < 5),
        k=10,
        nprobe=4,
        use_arrow=True,
    )


# Persisted-index locations already built in THIS process (see
# sim_ivfpq_indexed_topk) — serve-only on repeat invocations.
_IVFPQ_IDX_BUILT: set = set()


def ivfpq_index_dir(sf_dir: str) -> str:
    """Per-PROCESS persisted-index location for ``sf_dir`` — built once
    per (process, sf_dir): a fresh mkdtemp per invocation leaked a full
    codes table into /tmp on every sweep rep, and a fixed shared path
    raced concurrent processes (one rebuild rmtree-ing under another's
    serve).  This keying is the ONE owner of the path construction —
    a duplicate in bench.py's cleanup would silently no-op if the
    spelling changed."""
    import hashlib
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"ic_spark_ivfpq_idx_{os.getpid()}",
        hashlib.sha1(sf_dir.encode()).hexdigest()[:12],
    )


def ivfpq_index_release(sf_dir: str) -> None:
    """Reclaim the per-process index for ``sf_dir`` and un-memoize it
    so a later same-process invocation rebuilds instead of serving a
    deleted index."""
    import shutil

    idx = ivfpq_index_dir(sf_dir)
    _IVFPQ_IDX_BUILT.discard(idx)
    shutil.rmtree(idx, ignore_errors=True)


@query(
    "dedup_semantic_cells",
    oracle="""
    WITH seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cidx,
               CAST(embedding AS DOUBLE[]) AS cv
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    assigned AS (
        SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v,
               (SELECT s.cidx FROM seeds s
                ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) DESC,
                         s.cidx ASC LIMIT 1) AS cell
        FROM embeddings e
    )
    SELECT a.vec_id, a.label, a.cell
    FROM assigned a
    WHERE NOT EXISTS (
        SELECT 1 FROM assigned b
        WHERE b.cell = a.cell AND b.vec_id < a.vec_id
          AND list_cosine_similarity(b.v, a.v) >= 0.35
    )
    """,
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str):
    """SemDeDup-style clustered semantic dedup: coarse-quantize into 16
    cells (deterministic lowest-id seeds -> oracle-checkable), drop any
    vector with a lower-id in-cell neighbor at cosine >= 0.35; min-id
    survivors keep their cell id.  The clustered scale path for
    embedding near-dup removal (cells bound the quadratic term)."""
    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, id_col="vec_id", vec_col="embedding", nlist=16, threshold=0.35
    ).select("vec_id", "label", "cell")


def _lsh_topk_oracle(dim: int = 64, n_planes: int = 6, k: int = 10) -> str:
    """DuckDB oracle for hyperplane LSH: the hyperplanes are seeded
    driver-side floats, so they can be embedded as literals — the
    bucket is then plain sign-of-dot-product arithmetic in both
    engines (no engine hash anywhere in this operator)."""
    from ic_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)

    def bucket_expr(v: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            pa = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({v}, {pa}) > 0.0 THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(n_planes)]
    )
    return f"""
    WITH cb AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
               {bucket_expr("CAST(embedding AS DOUBLE[])")} AS bucket
        FROM embeddings
    ),
    qb AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
               {bucket_expr("CAST(embedding AS DOUBLE[])")} AS bucket
        FROM embeddings WHERE vec_id < 5
    ),
    probes AS (
        SELECT query_id, qv, unnest([{probe_list}]) AS bucket FROM qb
    ),
    scored AS (
        SELECT DISTINCT p.query_id, cb.neighbor_id,
               list_cosine_similarity(cb.cv, p.qv) AS cos_raw
        FROM probes p JOIN cb ON p.bucket = cb.bucket
        WHERE p.query_id <> cb.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC
               ) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@query("sim_lsh_topk", oracle=_lsh_topk_oracle())
def sim_lsh_topk(spark: SparkSession, sf_dir: str):
    """Hyperplane-LSH bucketed approximate top-k.  Oracle-checked: the
    hyperplanes are seeded literals, so DuckDB reproduces the exact
    buckets, multiprobe set, and ranking (recall vs brute force is
    additionally pinned in tests)."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_top_k(
        e,
        e.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        k=10,
        n_planes=6,
    )


@query(
    "sim_embedding_stats",
    oracle="""
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def sim_embedding_stats(spark: SparkSession, sf_dir: str):
    from ic_spark.functions.vectors import l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(l2_norm(F.col("embedding"))), 6).alias("avg_norm"),
    )
