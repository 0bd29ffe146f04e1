"""Deduplication operators for training-data pipelines.

Five dedup families, each designed for 100 TB scale:

- exact_dup_groups      hash-groupBy on md5(text) — one shuffle on a
                        short key, canonical id chosen deterministically.
- ngram_jaccard_pairs   exact Jaccard over word shingles via an inverted-
                        index self-join (explode -> join on shingle) —
                        never an O(n^2) cross join.
- minhash_lsh_pairs     MinHash signatures + banded LSH: candidate pairs
                        only where a band bucket collides, then exact
                        verification. The scale path: shuffle volume is
                        O(docs x bands), independent of corpus pair count.
- simhash64             64-bit SimHash per doc + hamming-distance pairing
                        on band prefixes.
- embedding_neardup_pairs  cosine >= threshold pairs via LSH-ish bucketing
                        (random hyperplane signs) or brute force for
                        small dims (see operators.similarity).

Hashing rule: internal join/bucket keys use JVM-native ``xxhash64``
(whole-stage codegen, no hex-string round-trip). This does NOT break
oracle parity: no operator here exposes a hash value in its output —
Jaccard counts, hamming distances, and candidate pairs are identical
under any collision-free hash, so the DuckDB oracles join on the raw
shingle strings instead of mirroring the hash. Only
``text.doc_fingerprint`` exposes a digest, and it stays md5 for
cross-engine reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dump1090_db_stream_spark.cache import track
from dump1090_db_stream_spark.operators.text import (
    content_hash,
    shingles,
    with_tokens,
)


def _hash64(c: Column, seed: int) -> Column:
    """64-bit seeded hash on the JVM fast path. The seed is mixed in as a
    literal column so different uses draw independent hash families."""
    return F.xxhash64(F.lit(seed), c)


def _portable_hash60(c: Column) -> Column:
    """Engine-portable 60-bit string hash: the first 15 hex chars of md5,
    parsed as an integer. Any ANSI engine reproduces it (DuckDB:
    ``('0x' || substr(md5(s),1,15))::BIGINT``), which makes the MinHash /
    SimHash pipelines oracle-checkable end-to-end. ~2x the cost of
    xxhash64, so it is the *contract-variant* base hash; production
    defaults stay on the JVM fast path."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups (>=2 members): content hash, canonical id
    (the lowest id), member count.

    groupBy on md5 (fixed 32-char key) rather than raw text so the shuffle
    carries hashes, not document bodies — at 100 TB this is the difference
    between shuffling 32 bytes/doc and shuffling the corpus."""
    return (
        df.withColumn("content_md5", content_hash(F.col(text_col)))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("canonical_id"),
             F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") >= 2)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    tokenizer=None,
    shingle_index: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted index.

    explode(distinct shingles) -> self-join on a 64-bit shingle hash ->
    count common shingles per pair -> Jaccard = common / (|A|+|B|-common).

    Scale design:
    - the join key is a 64-bit xxhash of the shingle, not the shingle
      string: the shuffle carries 8-byte keys instead of n-gram text
      (collision odds ~m^2/2^64 — negligible; the output carries no hash,
      so the SQL oracle joins on raw shingles and matches exactly);
    - only documents sharing a shingle ever meet — no cross join;
    - ``max_df`` drops shingles present in more than max_df documents
      (stop-phrase skew, the known hazard of inverted-index self-joins:
      a shingle in 10^6 docs makes a 10^12-row join bucket). With a cap,
      reported Jaccard is a lower bound (common-shingle count excludes
      capped shingles; set sizes don't). The DEFAULT is a finite cap —
      the safe behavior at corpus scale; pass ``max_df=None`` to opt in
      to exact Jaccard when the corpus is known stop-phrase-free. The
      ``ngram_skew`` bench quantifies the cap's effect on a hot-shingle
      corpus.

    ``shingle_index`` (r15 fusion seam, like classify's
    ``unit_buckets``): a prebuilt ``(id, sh)`` relation — ``sh`` the
    same seed-0 :func:`_hash64` of each DISTINCT word n-gram — built
    by a caller that already tokenized the corpus for other per-doc
    features (the capstone's single featurization pass). The CALLER
    owns its materialization (cache/track); this operator consumes it
    as-is instead of re-tokenizing, and everything downstream of the
    index is unchanged, so the pair multiset is identical whenever the
    index is (test-pinned). The index fixes the shingling, so a
    non-default ``n`` or ``tokenizer`` passed with it raises instead of
    being ignored. ``df`` is not read in that case, but it must still
    carry ``id_col`` and ``text_col`` and the index ``id`` and ``sh``:
    a mismatched frame or index raises instead of pairing the wrong
    corpus.
    """
    if shingle_index is not None:
        if n != 3 or tokenizer is not None:
            raise ValueError(
                "shingle_index fixes the shingling: n and tokenizer "
                f"cannot be set with it (got n={n}, tokenizer={tokenizer!r})")
        for frame, what, cols in ((df, "df", (id_col, text_col)),
                                  (shingle_index, "shingle_index",
                                   ("id", "sh"))):
            missing = [c for c in cols if c not in frame.columns]
            if missing:
                raise ValueError(
                    f"{what} lacks column(s) {missing}; it has "
                    f"{frame.columns}")
        sh = shingle_index
    else:
        sh = (
            with_tokens(df, text_col, tokenizer=tokenizer)
            .select(F.col(id_col).alias("id"),
                    F.explode(F.array_distinct(shingles(F.col("_toks"), n))).alias("s"))
            .select("id", _hash64(F.col("s"), 0).alias("sh"))
        )
        # The inverted index feeds three consumers (sizes, both join
        # sides); persist it so tokenize+hash runs once, not three
        # times. At cluster scale the same principle holds —
        # materialize the index (cache or a temp table), it is ~2
        # longs per (doc, shingle). (A caller-supplied shingle_index
        # is the caller's to materialize — see above.)
        sh = track(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None and \
            max_df * (max_df - 1) // 2 > _CAPPED_PAIR_BUDGET:
        # r14 ADVICE: the grouped-bucket explode below materializes up
        # to C(max_df, 2) structs in ONE row — quadratic in max_df.
        # Above the budget (~2M pair structs/row) fall back to the
        # df-capped STREAMING self-join: identical pair multiset (the
        # same (a.sh == b.sh) & (a.id < b.id) matches over the same
        # capped shingle set), per-row memory flat.
        keep = (sh.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("sh"))
        shc = sh.join(keep, "sh")
        a, b = shc.alias("a"), shc.alias("b")
        common = (
            a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    elif max_df is not None:
        # CAPPED mode (r14, guide §2.4): group the index by shingle and
        # explode each bucket's i<j pairs directly — ONE exchange of the
        # index (the groupBy) instead of three (the df-filter join plus
        # both self-join sides), with the df cap applied as a size
        # filter on the collected bucket. Per-bucket pair volume is
        # bounded by C(max_df, 2), so the flattened pair array a single
        # row materializes is bounded too — which is exactly why the
        # UNCAPPED branch below keeps the streaming self-join (an
        # unbounded bucket must never materialize C(df, 2) structs in
        # one row). Pair sets and counts are identical: the sorted
        # bucket's i<j expansion enumerates precisely the join's
        # (a.sh == b.sh) & (a.id < b.id) matches.
        buckets = (sh.groupBy("sh")
                   .agg(F.array_sort(F.collect_list("id")).alias("ids"))
                   .filter(F.size("ids") <= max_df)
                   .filter(F.size("ids") >= 2))
        pair = F.explode(F.flatten(F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2),
                        F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))))))
        common = (buckets.select(pair.alias("p"))
                  .select("p.id_a", "p.id_b")
                  .groupBy("id_a", "id_b")
                  .agg(F.count(F.lit(1)).alias("n_common")))
    else:
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") /
                    (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


#: Per-row pair-struct budget for ngram_jaccard_pairs' capped
#: grouped-bucket explode (r14 ADVICE): one bucket row materializes up
#: to C(max_df, 2) structs, so max_df above ~2000 (2M structs, ~50 MB
#: of (long, long) pairs in one row) routes to the df-capped streaming
#: self-join instead — identical results, flat per-row memory.
_CAPPED_PAIR_BUDGET = 2_000_000

# Universal-hash family over a Mersenne-ish prime: h_i(x) = (a_i x + b_i)
# mod P. P < 2^31 keeps a_i * x inside signed-64 arithmetic.
_MH_P = (1 << 31) - 1  # 2147483647, prime


def _mh_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) per permutation via an LCG — reproducible
    across runs and engines, no RNG state."""
    s = (i * 2654435761 + 1013904223) % _MH_P
    a = (s * 48271 % _MH_P) or 1
    b = (a * 69621 + i) % _MH_P
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    portable_base_hash: bool = False,
) -> DataFrame:
    """MinHash signatures as one row per doc with columns mh0..mh{k-1}.

    ``portable_base_hash=True`` swaps the xxhash64 shingle hash for the
    md5-derived :func:`_portable_hash60` so the whole signature is
    reproducible in any ANSI engine (used by the oracle-checked contract
    variant; same asymptotics, ~2x base-hash cost).

    Shape chosen for scale: explode distinct shingles to rows, compute
    ONE base hash per shingle, then k permutations as plain (a*h+b) mod P
    min-aggregates. Partial (map-side) aggregation collapses each
    partition to one row per doc before the shuffle, so shuffle volume is
    O(docs x k x 8B) regardless of shingle count. The naive alternative
    (k lambda-transforms over the shingle array) recomputes
    tokenize+shingle+hash k times — Catalyst does not CSE through
    higher-order-function lambdas.
    """
    base = with_tokens(df, text_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col("_toks"), n))).alias("s"),
    ).select("id", F.pmod(
        _portable_hash60(F.col("s")) if portable_base_hash
        else _hash64(F.col("s"), 0), F.lit(_MH_P)).alias("h"))
    aggs = []
    for i in range(num_hashes):
        a, b = _mh_params(i)
        aggs.append(F.min(
            F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_MH_P))
        ).alias(f"mh{i}"))
    return base.groupBy("id").agg(*aggs)


def _banded(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, bucket) LSH band relation from a signature table:
    bucket = md5 of the band's row concatenation."""
    return sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[
                    F.col(f"mh{b * rows + r}").cast("string")
                    for r in range(rows)
                ])).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    portable_base_hash: bool = False,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidate pairs, verified by exact
    Jaccard on the candidates only.

    Pipeline: signature (narrow) -> explode bands -> groupBy band bucket
    (shuffle keyed on band hash) -> pairs within bucket -> exact verify.
    With b bands of r rows, P(candidate) = 1-(1-j^r)^b. The default
    (b=16, r=2) misses a j=0.5 pair ~1% of the time and a j=0.7 pair
    ~0.01% — tuned for threshold≈0.5; more selective thresholds warrant
    r=4 (fewer false-positive candidates, steeper curve). False positives
    cost only verification compute: exact Jaccard filters them out.

    Scale: candidate generation shuffles O(docs x bands) short rows;
    verification touches only candidate pairs. Bucket-size blowup (many
    docs sharing a band) is bounded in practice by signature diversity;
    a bucket-size cap is the guard to add for adversarial corpora.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes,
                             portable_base_hash)
    # The banded relation feeds BOTH sides of the candidate self-join;
    # without materialization each side would recompute the whole
    # tokenize->shingle->md5->32-way-min pipeline (Spark does not CSE
    # across self-join branches). One row per doc (k longs) — cheap to
    # cache locally; at cluster scale, a checkpoint/temp table plays the
    # same role.
    banded = track(_banded(sig, bands, rows))
    a, b_ = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # candidates feed two consumers (the involved-doc semi-join and the
    # verification join); persist so the signature+banding pipeline runs
    # once. Candidate sets are tiny (near-dup pairs, not the corpus).
    candidates = track(candidates)
    # exact verification on candidates only: semi-join the corpus down to
    # docs that appear in some candidate pair BEFORE recomputing shingles —
    # the expensive tokenize+shingle projection runs over |candidate docs|,
    # not the whole corpus (Catalyst won't reorder a join below a
    # projection on its own).
    involved = (candidates.select(F.col("id_a").alias("id"))
                .union(candidates.select(F.col("id_b").alias("id")))
                .distinct())
    slim = df.join(F.broadcast(involved),
                   df[id_col] == involved["id"], "left_semi")
    sh = with_tokens(slim, text_col).select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col("_toks"), n)).alias("shs"))
    va = sh.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    vb = sh.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    # deliberately NOT broadcast(candidates): candidate volume is
    # quadratic in bucket skew (one m-doc boilerplate group -> C(m,2)
    # pairs), exactly the corpus shape a dedup pipeline targets — a
    # forced broadcast would OOM the driver there. AQE promotes the
    # join to broadcast at runtime when candidates really are small.
    return (
        candidates.join(va, "id_a").join(vb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn("n_union", F.size(F.array_union("shs_a", "shs_b")))
        .withColumn("jaccard", F.round(F.col("n_common") / F.col("n_union"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_bits: int = 60,
    portable_base_hash: bool = False,
) -> DataFrame:
    """Per-doc 60-bit SimHash over word n-gram shingles: for each bit
    position, sum +1/-1 votes from each shingle-hash bit; the sign of the
    sum is the output bit.

    Same scale shape as minhash_signatures: explode shingles, ONE hash
    per shingle, the 60 bit-votes as plain conditional-sum aggregates with
    map-side partial aggregation. Returns (id, sim)."""
    base = with_tokens(df, text_col).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col("_toks"), n)).alias("s"),
    ).select("id", (_portable_hash60(F.col("s")) if portable_base_hash
                    else _hash64(F.col("s"), 0)).alias("h"))
    votes = base.groupBy("id").agg(*[
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << bit)) != 0, 1).otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(n_bits)
    ])
    sim = F.lit(0).cast("bigint")
    for bit in range(n_bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{bit}") > 0, F.lit(1 << bit))
            .otherwise(F.lit(0)).cast("bigint"))
    return votes.select("id", sim.alias("sim"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n: int = 2,
    n_chunks: int = 4,
    portable_base_hash: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs within a hamming radius.

    Pigeonhole LSH: split the 60-bit hash into n_chunks chunks; any pair
    within max_hamming <= n_chunks - 1 shares at least one exact chunk.
    Join on (chunk_index, chunk_value), then verify hamming distance via
    bit_count(xor). Shuffle volume O(docs x n_chunks).
    """
    chunk_bits = 60 // n_chunks
    sim = simhash_table(df, id_col, text_col, n,
                        portable_base_hash=portable_base_hash)
    chunks = sim.select(
        "id", "sim",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftrightunsigned(F.col("sim"), i * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("cv"),
            ) for i in range(n_chunks)
        ])).alias("c"),
    ).select("id", "sim", "c.ci", "c.cv")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, (F.col("a.ci") == F.col("b.ci"))
               & (F.col("a.cv") == F.col("b.cv"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def cross_ngram_overlap(
    docs: DataFrame,
    refs: DataFrame,
    n: int = 3,
    min_common: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "ref_id",
    ref_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: (doc, ref) pairs sharing >= min_common
    distinct word n-grams — the standard pretraining hygiene step that
    drops training documents overlapping an eval/benchmark set.

    Output: (doc_id, ref_id, n_common, n_ref, overlap_frac) where
    overlap_frac = n_common / n_ref (share of the BENCHMARK's n-grams
    found in the doc — refs are short, docs are long, so normalizing by
    the ref side is the decision-relevant ratio).

    Scale shape: identical to ngram_jaccard_pairs but CROSS-relation:
    both sides explode to (id, shingle-hash) rows and meet in an
    equi-join on the 8-byte hash — only (doc, ref) pairs sharing at
    least one shingle are ever materialized, never |docs| x |refs|.
    The ref side is the small one by contract; its exploded relation is
    broadcast, so the corpus scan itself is shuffle-free — only the
    MATCHED (doc, ref) rows (a sliver of the corpus when benchmarks are
    small) enter the counting aggregation's shuffle, map-side combined.
    """
    d = (
        with_tokens(docs, text_col)
        .select(F.col(id_col).alias("did"),
                F.explode(F.array_distinct(
                    shingles(F.col("_toks"), n))).alias("s"))
        .select("did", _hash64(F.col("s"), 0).alias("sh"))
    )
    r = (
        with_tokens(refs, ref_text_col)
        .select(F.col(ref_id_col).alias("rid"),
                F.explode(F.array_distinct(
                    shingles(F.col("_toks"), n))).alias("s"))
        .select("rid", _hash64(F.col("s"), 0).alias("sh"))
    )
    r = track(r)  # two consumers: sizes + the join
    ref_sizes = r.groupBy("rid").agg(F.count(F.lit(1)).alias("n_ref"))
    common = (
        d.join(F.broadcast(r), "sh")
        .groupBy("did", "rid")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return (
        common.join(F.broadcast(ref_sizes), "rid")
        .select(
            F.col("did").alias(id_col),
            F.col("rid").alias(ref_id_col),
            "n_common", "n_ref",
            F.round(F.col("n_common") / F.col("n_ref"), 6)
                .alias("overlap_frac"),
        )
    )


def shingle_doc_freq(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(shingle, doc_freq): distinct-document frequency of every word
    n-gram — the corpus-wide statistic behind boilerplate mining and
    the ``max_df`` stop-phrase caps the near-dup joins use.

    One shuffle, map-side combined. The group key is the shingle TEXT
    (unlike the join paths, which key on xxhash64): document frequency
    is only useful next to the shingle it counts, so the text must
    reach the output anyway — hashing first would just force a second
    join to recover it."""
    return (
        with_tokens(df, text_col)
        .select(F.col(id_col).alias("id"),
                F.explode(F.array_distinct(
                    shingles(F.col("_toks"), n))).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )


def boilerplate_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_df: int = 10,
) -> DataFrame:
    """Cross-document boilerplate mining: shingles appearing in at least
    ``min_df`` DISTINCT documents, with their document frequency — the
    template/header/footer/nav-text detector for web-corpus hygiene
    (the cross-doc complement of cleaning.repetition_stats, which is
    intra-doc). Feed the result to :func:`doc_boilerplate_share` for a
    per-document filter signal, or use it to choose ``max_df`` for
    ngram_jaccard_pairs on a real corpus."""
    return (shingle_doc_freq(df, id_col, text_col, n)
            .filter(F.col("doc_freq") >= min_df))


def doc_boilerplate_share(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_df: int = 10,
) -> DataFrame:
    """Per-document boilerplate score: the share of a document's
    distinct shingles that are corpus-level boilerplate
    (doc_freq >= ``min_df``) — a quality-filter column next to
    text.quality_features.

    Scale shape: the per-doc shingle relation is materialized ONCE and
    feeds both the corpus doc-freq aggregate and the per-doc count; the
    boilerplate set (frequent shingles only — small by construction) is
    joined back BROADCAST on the 8-byte shingle hash, so the second
    pass adds no corpus-wide shuffle. Output carries no hash, so the
    DuckDB oracle joins on raw shingle text and matches exactly."""
    sh = (
        with_tokens(df, text_col)
        .select(F.col(id_col).alias("id"),
                F.explode(F.array_distinct(
                    shingles(F.col("_toks"), n))).alias("s"))
        .select("id", _hash64(F.col("s"), 0).alias("sh"))
    )
    sh = track(sh)
    boiler = (sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
              .filter(F.col("df") >= min_df)
              .select("sh"))
    n_boiler = (sh.join(F.broadcast(boiler), "sh")
                .groupBy("id").agg(F.count(F.lit(1)).alias("n_boiler")))
    totals = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        totals.join(n_boiler, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
            F.round(F.coalesce(F.col("n_boiler"), F.lit(0))
                    / F.col("n_shingles"), 6).alias("boiler_share"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    n: int = 4,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal cross-document duplicated token spans — the
    exact-substring dedup signal (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", which removes exact
    repeats >= 50 tokens; the doc-level families above can't see a
    duplicated PASSAGE inside otherwise-distinct documents).

    A token interval is reported when it is covered by n-token
    shingles each appearing in >= ``min_df`` distinct documents, with
    overlapping/adjacent covered intervals merged to maximal spans.
    Output: (id, span_start, span_end, span_tokens, n_shingles) with
    1-based inclusive token indices — the relation a strip/mask pass
    or a duplication-rate audit consumes.

    Spark-first shape: positional shingles (one sequence-transform
    projection, no Python), distinct-doc frequency in one map-side-
    combined shuffle keyed on the shingle text (the
    ``shingle_doc_freq`` precedent; at 100 TB swap the join key for
    the 8-byte hash exactly as the near-dup joins do), an equi join
    marks covered positions, and interval merging is gaps-and-islands
    over ONE per-doc window (equal-length intervals sorted by start
    merge iff start_delta <= n — the value_runs discipline, one
    Exchange). Docs shorter than n tokens cannot contain an n-shingle
    and drop out naturally.
    """
    if n < 1 or min_df < 1:
        raise ValueError(f"n and min_df must be >= 1, got {n}, {min_df}")
    from pyspark.sql import Window

    hits = _span_hits(df, n, min_df, id_col, text_col)
    w = Window.partitionBy("id").orderBy("p")
    new_run = F.when(
        F.col("p") - F.lag("p").over(w) <= n, F.lit(0)).otherwise(F.lit(1))
    runs = (hits.withColumn("_nr", new_run)
            .withColumn("_run", F.sum("_nr").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (
        runs.groupBy("id", "_run")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + (n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .select(
            F.col("id").alias(id_col), "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
             .alias("span_tokens"),
            "n_shingles",
        )
    )


def _span_hits(df: DataFrame, n: int, min_df: int,
               id_col: str, text_col: str) -> DataFrame:
    """(id, p): 1-based start positions of n-shingles shared by >=
    min_df distinct docs — the common front of duplicate_spans and
    strip_duplicate_spans. The positional shingle relation feeds BOTH
    the frequency branch and the cover join; without the cache.track
    barrier Catalyst re-runs the tokenize+explode pipeline per branch
    (no cross-branch reuse) — caller releases via
    cache.release_tracked."""
    from dump1090_db_stream_spark.cache import track

    toks = with_tokens(df.select(F.col(id_col).alias("id"), text_col),
                       text_col)
    k = F.size(F.col("_toks")) - (n - 1)
    idx = F.sequence(F.lit(1), k)
    sh = track(
        toks.filter(k >= 1)
        .select("id", F.explode(idx).alias("p"),
                F.col("_toks").alias("_t"))
        .select("id", "p",
                F.concat_ws(" ", F.slice("_t", F.col("p"), n))
                 .alias("s")))
    freq = (sh.select("id", "s").distinct()
            .groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") >= min_df)
            .select("s"))
    return sh.join(freq, "s").select("id", "p")


def strip_duplicate_spans(
    df: DataFrame,
    n: int = 4,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the :func:`duplicate_spans` mask: remove every token
    covered by a cross-document duplicated n-shingle and stitch the
    survivors back together — the strip half of Lee et al.'s exact
    substring dedup (detect tells you WHERE; this rewrites the
    corpus). Output: (id, text', n_tokens, n_removed) — one row per
    input row, single-space rejoin of surviving tokens in original
    order ('' when everything was duplicated; NULL text passes
    through; whitespace is canonicalized by the tokenizer, the same
    normalization normalize_text applies).

    Shape: the shared hit relation (_span_hits, one tracked
    tokenize+explode), covered token positions via one bounded
    sequence-explode (n per hit) + distinct, a LEFT join flags the
    token relation, and reconstruction is the dedup_lines groupBy-doc
    collect (bounded by document size)."""
    if n < 1 or min_df < 1:
        raise ValueError(f"n and min_df must be >= 1, got {n}, {min_df}")
    hits = _span_hits(df, n, min_df, id_col, text_col)
    covered = (hits.select(
        "id", F.explode(F.sequence(F.col("p"), F.col("p") + (n - 1)))
        .alias("tp")).distinct()
        .withColumn("_cov", F.lit(True)))
    tokrel = (with_tokens(df.select(F.col(id_col).alias("id"), text_col),
                          text_col)
              .select("id", F.posexplode("_toks").alias("tp0", "tok"))
              .select("id", (F.col("tp0") + 1).alias("tp"), "tok"))
    flagged = (tokrel.join(covered, ["id", "tp"], "left")
               .select("id", "tp", "tok",
                       F.coalesce("_cov", F.lit(False)).alias("_drop")))
    rebuilt = (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("_drop").cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(F.collect_list(
                            F.struct("tp", "_drop", "tok"))),
                        lambda x: ~x["_drop"]),
                    lambda x: x["tok"]),
                " ").alias("_new_text"),
        )
    )
    others = [c for c in df.columns if c != text_col]
    return (
        df.select(*others)
        .join(rebuilt,
              F.col(id_col) == F.col("id"), "left")
        .select(*others, F.col("_new_text").alias(text_col),
                F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                F.coalesce("n_removed", F.lit(0)).alias("n_removed"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment —
    |A ∩ B| / min(|A|, |B|) — the measure that catches a SHORT
    document embedded inside a LONG one (a quote, an excerpt, a
    chapter republished alone), which Jaccard structurally cannot: a
    200-token doc fully contained in a 20,000-token doc has Jaccard
    ~0.01 but containment 1.0 (Broder 1997 distinguishes resemblance
    from containment for exactly this case).

    Same inverted-index shape and scale discipline as
    :func:`ngram_jaccard_pairs` (8-byte hashed shingle join keys,
    map-side-combined counts, ``max_df`` stop-phrase cap making the
    reported score a lower bound — pass ``max_df=None`` for exact
    containment). Output adds ``contained_id``: the smaller-shingle-
    set doc (ties -> id_a), i.e. the one likely embedded in the other.
    """
    sh = (
        with_tokens(df, text_col)
        .select(F.col(id_col).alias("id"),
                F.explode(F.array_distinct(
                    shingles(F.col("_toks"), n))).alias("s"))
        .select("id", _hash64(F.col("s"), 0).alias("sh"))
    )
    sh = track(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        keep = (sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_df).select("sh"))
        sh = sh.join(keep, "sh")
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .withColumn(
            "containment",
            F.round(F.col("n_common")
                    / F.least(F.col("n_a"), F.col("n_b")), 6))
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b", "n_common", "n_a", "n_b", "containment",
            F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a"))
             .otherwise(F.col("id_b")).alias("contained_id"),
        )
    )
