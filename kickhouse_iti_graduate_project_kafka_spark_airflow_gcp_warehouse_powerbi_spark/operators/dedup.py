"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Designed for 100 TB corpora:

- **exact_dedup** — fingerprint (xxhash64) + one hash-partitioned groupBy;
  never compares full text across the wire twice.
- **ngram_jaccard_pairs** — *inverted-index* pair generation (explode
  shingles, self-join on the shingle), NOT an O(N^2) cross join. Pair
  candidates are only documents sharing >=1 shingle; ultra-frequent shingles
  can be dropped via ``max_shingle_freq`` to bound skew (the classic hot-key
  guard at scale).
- **minhash_lsh_pairs** — MinHash signatures (k seeded xxhash64 mins) ->
  banding -> bucket self-join -> exact-Jaccard verification of candidates.
  The shuffle is on (band_idx, band_hash): bounded-size keys, no N^2
  anywhere. This is the scale path; the inverted index is the
  small/mid-scale exact path.
- **simhash64_pairs** — 64-bit SimHash, Hamming-ball candidate join via
  16-bit band equality (any pair within Hamming distance<=3*bands-ish shares
  a band by pigeonhole when distance < n_bands).

All shingle/signature math is JVM-side Column expressions — zero Python in
the per-row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint64, shingles_from_tokens, tokens
from ..sources.storage import HadoopIO

# ---------------------------------------------------------------------------
# Persist lifecycle: delegated to the shared operators/cachereg.py registry
# (the as-of operators track persists there too). release_persisted() keeps
# its historical name/behavior: it releases EVERY tracked intermediate.
# ---------------------------------------------------------------------------

from .cachereg import release_tracked as release_persisted  # noqa: F401
from .cachereg import track as _persist


#: (cache_key, text_col, id_col, n, threshold, guard) -> persisted pair DF.
_PAIR_CACHE: dict[tuple, DataFrame] = {}

#: (cache_key, text_col, id_col, n) -> persisted (_id, _h) hashed-shingle
#: index. The narrow shingling stage is the dominant shared cost of the
#: whole dedup family (jaccard, minhash-LSH, simhash, CC all start from
#: it), so one corpus's index stays pinned per session and every family
#: member reuses it instead of re-scanning the text.
_SHINGLE_CACHE: dict[tuple, DataFrame] = {}


#: how many distinct corpora (cache_keys) may hold pinned shingle indexes
#: at once — 2, not 1, so a sweep that interleaves two corpora (e.g. a
#: batch-vs-corpus contamination check next to same-corpus near-dup
#: queries) does not thrash persist/unpersist on every call (ADVICE r4)
SHINGLE_CACHE_CORPORA = 2


def shingle_hashes_cached(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, *, cache_key: str
) -> DataFrame:
    """Persisted distinct (_id, _h=xxhash64(shingle)) rows for a corpus,
    shared across the dedup family. ``cache_key`` identifies the corpus —
    callers MUST change it when the underlying data changes (reusing a
    key after the data changed silently serves stale rows; key by path +
    snapshot/ingest version in production). A small LRU keeps the last
    ``SHINGLE_CACHE_CORPORA`` corpora pinned; older ones are evicted.

    The DataFrame is returned lazily: the first consumer's action
    materializes the persist, so a caller chaining straight into its own
    action pays one pass, not two."""
    key = (cache_key, text_col, id_col, n)
    hit = _SHINGLE_CACHE.get(key)
    if hit is not None:
        _SHINGLE_CACHE[key] = _SHINGLE_CACHE.pop(key)  # refresh LRU order
        return hit
    sh = (
        shingle_rows(df, text_col, id_col, n)
        .select("_id", F.xxhash64("_sh").alias("_h"))
        .persist()
    )
    _SHINGLE_CACHE[key] = sh
    corpora: list[str] = []
    for k in reversed(list(_SHINGLE_CACHE)):  # most recent first
        if k[0] not in corpora:
            corpora.append(k[0])
    stale = set(corpora[SHINGLE_CACHE_CORPORA:])
    for k in [k for k in _SHINGLE_CACHE if k[0] in stale]:
        _SHINGLE_CACHE.pop(k).unpersist(blocking=True)
    return sh


def clear_shingle_cache() -> None:
    for k in list(_SHINGLE_CACHE):
        _SHINGLE_CACHE.pop(k).unpersist(blocking=True)


def clear_all_caches() -> None:
    """Release every session-scoped dedup cache (pairs, shingle indexes,
    loose persisted intermediates) — the bench harness calls this between
    timed queries so per-query numbers are order-independent."""
    clear_pair_cache()
    clear_shingle_cache()
    release_persisted()


def jaccard_pairs_cached(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    *,
    cache_key: str,
    materialize: bool = True,
) -> DataFrame:
    """``ngram_jaccard_pairs`` with session-scoped reuse: the first call
    per (cache_key, params) persists the pair set; later calls return the
    cached pairs. ``cache_key`` identifies the corpus (e.g. its path) —
    callers MUST change it when the underlying data changes. Pair sets are
    tiny next to the shingle index (near-dup pairs, not postings), so
    pinning them is cheap; entries for other cache_keys are evicted so at
    most one corpus stays pinned.

    ``materialize=True`` (default) runs the computation immediately and
    releases the shingle-index intermediates before returning. A caller
    that will itself run an action over the pairs soon (e.g. connected
    components' first checkpoint) can pass ``materialize=False`` to let
    that action populate the persisted cache through lineage — one pass
    instead of two — and MUST call :func:`release_persisted` after it."""
    key = (cache_key, text_col, id_col, n, threshold, max_shingle_freq)
    hit = _PAIR_CACHE.get(key)
    if hit is not None:
        return hit
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, n=n, threshold=threshold,
        max_shingle_freq=max_shingle_freq,
        _hashes=shingle_hashes_cached(df, text_col, id_col, n, cache_key=cache_key),
    ).persist()
    if materialize:
        pairs.count()  # materialize now: the shingle index becomes releasable
        release_persisted()
    for k in [k for k in _PAIR_CACHE if k[0] != cache_key]:
        _PAIR_CACHE.pop(k).unpersist(blocking=True)
    _PAIR_CACHE[key] = pairs
    return pairs


def clear_pair_cache() -> None:
    for k in list(_PAIR_CACHE):
        _PAIR_CACHE.pop(k).unpersist(blocking=True)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact (normalized) text. Returns the input
    columns + ``fingerprint``. One shuffle on the 64-bit fingerprint —
    at 100 TB this groups by 8-byte keys, not documents."""
    fp = df.withColumn("fingerprint", fingerprint64(text_col))
    keeper = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return fp.join(keeper, ["fingerprint", id_col])


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Per-doc distinct shingle ARRAYS — kept for API/tests; hot paths use
    shingle_rows (below), which is ~8x faster because it never runs
    interpreted higher-order functions."""
    tokenized = df.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    )
    return tokenized.select(
        "_id", shingles_from_tokens("_toks", n).alias("_shingles")
    ).filter(F.size("_shingles") > 0)


from .spread import spread_for_cpu as _spread_for_cpu  # noqa: E402


def shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct (doc, shingle) ROWS via one regex pass per document:
    whitespace is normalized to single spaces, then an overlapping
    lookahead capture ``(?:^| )(?=((?:\\S+ ){n-1}\\S+))`` extracts every
    n-token run — the ``(?:^| )`` consumes the separator before each token
    start so the lookahead fires exactly once per token position, and the
    captured run is already single-space-joined (identical to
    ``concat_ws(" ", tokens...)``). ``array_distinct`` dedups within the
    doc before exploding, so the row set equals the old window-lead
    implementation exactly (equivalence-tested).

    Zero shuffles and fully whole-stage-codegen — measured ~2.6x faster
    than the previous posexplode + window-lead path at sf0.1 (and ~25x
    faster than interpreted higher-order array functions). Documents
    shorter than ``n`` tokens yield no rows. At 100 TB this is the narrow
    stage every dedup operator pays; it now costs one regex scan of the
    text, no exchange, no sort.

    Per-row memory is O(document tokens) — the match list and its
    distinct copy live in one row before the explode (as the token array
    did on the old path). Normal corpus documents (<= a few MB) are fine;
    pre-chunk pathological multi-GB rows before shingling, as any per-row
    text operator here requires."""
    pat = r"(?:^| )(?=((?:\S+ ){" + str(n - 1) + r"}\S+))"
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    df = _spread_for_cpu(df)
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1))
        ).alias("_sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    _hashes: DataFrame | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard via inverted index.

    jaccard(A,B) = |A∩B| / (|A| + |B| - |A∩B|); the intersection size per
    pair comes from counting co-occurrences after exploding shingles, so
    only pairs sharing at least one shingle are ever materialized. The
    index carries 64-bit shingle *hashes*, not strings — the self-join
    shuffles 8-byte keys instead of ~25-byte shingle text (the same
    collision posture as MinHash verification and containment:
    within-corpus collision probability ~1e-15 at 100 TB shingle counts).

    ``max_shingle_freq`` is the hot-key guard and is ON by default: a
    shingle occurring in more than that many documents (a stopword run at
    100 TB) is dropped from the index, since its posting list would make
    the self-join quadratic in that list. Sizes are computed from the
    SAME filtered set, so the score is exact Jaccard over the
    guard-filtered shingle universe — identical to unfiltered Jaccard
    whenever nothing is dropped (any corpus where no shingle exceeds the
    cap), and self-consistent (never an inflated denominator) otherwise.
    Pass ``None`` to disable.

    ``_hashes`` (internal): a precomputed (_id, _h) index — pass
    :func:`shingle_hashes_cached` output so the family shares one
    shingling pass per corpus.

    Returns (a_id, b_id, jaccard) with a_id < b_id, jaccard >= threshold.
    """
    if _hashes is None:
        # the exploded index feeds both join legs and the size aggregate —
        # persist so shingling runs once (MEMORY_AND_DISK: spills, not OOM)
        exploded = _persist(
            shingle_rows(df, text_col, id_col, n).select(
                "_id", F.xxhash64("_sh").alias("_h")
            )
        )
    else:
        exploded = _hashes
    if max_shingle_freq is not None:
        # posting-list length via a window on _h (not groupBy+join: the
        # window's hash partitioning on _h is exactly what the inverted-
        # index self-join below needs, so the exchange is reused). The
        # POST-guard index feeds three consumers (both self-join legs and
        # the size aggregate) — persist it so the guard window's shuffle
        # runs once, not three times, and the cached plan's hash
        # partitioning on _h lets the self-join skip its exchanges.
        wf = Window.partitionBy("_h")
        exploded = _persist(
            exploded.withColumn("_freq", F.count(F.lit(1)).over(wf))
            .filter(F.col("_freq") <= max_shingle_freq)
            .drop("_freq")
        )
    # sizes AFTER the guard: intersections and sizes must count the same
    # shingle universe or the denominator overstates and near-dups are missed
    sizes = exploded.groupBy("_id").agg(F.count(F.lit(1)).alias("_size"))
    a = exploded.select(F.col("_id").alias("a_id"), "_h")
    b = exploded.select(F.col("_id").alias("b_id"), "_h")
    inter = (
        a.join(b, "_h")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("a_id"), F.col("_size").alias("_sa"))
    sb = sizes.select(F.col("_id").alias("b_id"), F.col("_size").alias("_sb"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                F.col("_inter").cast("double")
                / (F.col("_sa") + F.col("_sb") - F.col("_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: what fraction of each *test* document's
    distinct n-grams appears anywhere in the *train* corpus?

    containment(d) = |ngrams(d) ∩ U_train| / |ngrams(d)| — the standard
    train/test overlap metric (high containment = the benchmark doc leaked
    into training data).

    Scale shape: the train n-gram universe is deduped to distinct 64-bit
    hashes (one groupBy on 8-byte keys — at 100 TB this is the only pass
    over the train corpus), then a hash-partitioned LEFT join marks each
    test shingle as contained or not. Test sets are small relative to train,
    so the join's test side is cheap; no pair explosion, no arrays.

    Returns (id, n_shingles, n_contained, containment) per test document
    with at least ``n`` tokens.
    """
    universe = (
        shingle_rows(train, text_col, id_col, n)
        .select(F.xxhash64("_sh").alias("_h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    test_sh = shingle_rows(test, text_col, id_col, n).select(
        "_id", F.xxhash64("_sh").alias("_h")
    )
    return _containment_agg(test_sh, universe, id_col)


def ngram_containment_split(
    df: DataFrame,
    test_pred,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """ngram_containment when train and test live in the SAME table,
    separated by a row predicate on the id (``test_pred`` is a callable
    Column -> Column, e.g. ``lambda i: i % 20 == 0``): tokenize/shingle the
    corpus ONCE, then split the exploded rows — one scan and one windowed
    shingle pass instead of two (at 100 TB, shingling is the expensive
    narrow stage, so halving it matters more than anything in the join)."""
    sh = _persist(
        shingle_rows(df, text_col, id_col, n).select(
            "_id", F.xxhash64("_sh").alias("_h"), test_pred(F.col("_id")).alias("_is_test")
        )
    )
    universe = (
        sh.filter(~F.col("_is_test")).select("_h").distinct().withColumn("_hit", F.lit(1))
    )
    test_sh = sh.filter(F.col("_is_test")).select("_id", "_h")
    return _containment_agg(test_sh, universe, id_col)


def _containment_agg(test_sh: DataFrame, universe: DataFrame, id_col: str) -> DataFrame:
    """Shared tail: mark each test shingle contained-or-not, fold per doc."""
    return (
        test_sh.join(universe, "_h", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contained"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_contained",
            F.round(F.col("n_contained") / F.col("n_shingles"), 4).alias("containment"),
        )
    )


def minhash_signature(hashes_col: str, num_hashes: int = 64) -> list:
    """k MinHash values from a pre-hashed shingle array (array<long>).

    Hashing every shingle *string* k times would cost k string passes; the
    caller hashes once (xxhash64) and each family member re-hashes the
    8-byte long with a distinct seed literal — cheap, overflow-free (no
    long arithmetic, which ANSI mode would trap on), deterministic, all
    JVM-side.
    """

    def _mix(i: int):
        return lambda h: F.xxhash64(F.lit(i), h)

    return [
        F.array_min(F.transform(F.col(hashes_col), _mix(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    band_size: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """MinHash + LSH banding + exact verification.

    With 64 hashes in 16 bands of 4, a pair at Jaccard j is emitted as a
    candidate with probability 1-(1-j^4)^16 (≈1 for j>=0.8). Candidates are
    then *verified* with exact Jaccard on the shingle sets, so precision is
    exact; recall is the LSH probability above. Shuffles: one on
    (band, band_hash) for candidates, one inverted-index pass restricted to
    candidate pairs for verification.

    ``cache_key`` (optional): reuse the session's shared hashed-shingle
    index (:func:`shingle_hashes_cached`) instead of re-shingling — the
    family's one expensive narrow stage runs once per corpus.

    Returns (a_id, b_id, jaccard) with a_id < b_id, jaccard >= threshold.
    """
    n_bands = num_hashes // band_size
    # shingles as hashed rows (codegen end to end); persisted because they
    # feed the signature aggregate AND the verification sets
    if cache_key is not None:
        exploded_h = shingle_hashes_cached(df, text_col, id_col, n, cache_key=cache_key)
    else:
        exploded_h = _persist(
            shingle_rows(df, text_col, id_col, n).select(
                "_id", F.xxhash64("_sh").alias("_h")
            )
        )
    # signature via hash-aggregate: min(xxhash64(seed_i, h)) per doc, with
    # map-side combine — one shuffle on _id
    sig = exploded_h.groupBy("_id").agg(
        *[F.min(F.xxhash64(F.lit(i), "_h")).alias(f"mh_{i}") for i in range(num_hashes)]
    )
    # banding: hash each band's slice of the signature to one bucket key.
    # Deliberately NOT persisted (r13 probe): both self-join legs consume
    # band_rows and the a/b aliasing defeats ReuseExchange, so each leg
    # does re-run the signature aggregate — but that aggregate reads the
    # ALREADY-PERSISTED hashed-shingle index (exploded_h above), the two
    # redundant legs run concurrently on idle cores, and the paired A/Bs
    # measured the persist flat-to-negative at every scale (sf0.1 −5.5%
    # mixed-sign, sf1 +22.6% 4/11, sf10 +14.6% medians —
    # benchruns/r13_ab_{main_sf01,minhash_pq_sf1,bands_sf10}.json). Same
    # recompute-beats-persist posture as asof_join_bucketed's legs.
    # Contrast hamming_band_pairs below, where the duplicated subtree is
    # the far heavier 63-vote SimHash aggregate / media decode and the
    # persist measured a clear win.
    band_rows = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"mh_{b * band_size + r}") for r in range(band_size)]
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    left = band_rows.select(F.col("_id").alias("a_id"), "band", "bucket")
    right = band_rows.select(F.col("_id").alias("b_id"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    # exact verification of candidates only, via the inverted-index
    # intersection RESTRICTED to candidate pairs — no collect_list: a
    # book-length document never materializes its shingle set as one array
    # row; the intersection is a streaming hash-aggregate over
    # (a_id, b_id, _h) rows. (64-bit hashes: within-doc collision
    # probability ~1e-15, so set sizes equal the string-set sizes.)
    sh_a = exploded_h.select(F.col("_id").alias("a_id"), "_h")
    sh_b = exploded_h.select(F.col("_id").alias("b_id"), "_h")
    inter = (
        candidates.join(sh_a, "a_id")
        .join(sh_b, ["b_id", "_h"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sizes = exploded_h.groupBy("_id").agg(F.count(F.lit(1)).alias("_size"))
    sizes_a = sizes.select(F.col("_id").alias("a_id"), F.col("_size").alias("_sa"))
    sizes_b = sizes.select(F.col("_id").alias("b_id"), F.col("_size").alias("_sb"))
    verified = (
        inter.join(sizes_a, "a_id")
        .join(sizes_b, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                F.col("_inter").cast("double")
                / (F.col("_sa") + F.col("_sb") - F.col("_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def simhash64(shingles_col: str) -> F.Column:
    """SimHash of a shingle set (63 usable bits in a signed long): per-bit
    sign-aggregate of the per-shingle xxhash64 values, entirely with
    array/bitwise expressions."""
    hashes = F.transform(F.col(shingles_col), lambda s: F.xxhash64(s))

    def _vote(bit: int):
        mask = F.lit(1 << bit) if bit < 63 else F.lit(-(1 << 63))
        return lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1)

    # per-bit vote: sum(+1/-1) over shingles, bit set if positive
    bit_terms = [
        F.when(F.aggregate(hashes, F.lit(0), _vote(i)) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(63)  # keep the sign bit clear: 63-bit simhash in a long
    ]
    out = F.lit(0)
    for t in bit_terms:
        out = out.bitwiseOR(t)
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_hamming: int = 3,
    cache_key: str | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Candidate generation via 16-bit band equality (4 bands): any pair within
    Hamming distance 3 matches on >=1 band (pigeonhole), so recall is exact
    for max_hamming <= 3; distance is then verified with bit_count(xor).

    The per-bit votes are computed as explode + 63 conditional-sum
    aggregates (whole-stage codegen) rather than interpreted array
    aggregates — same result, far cheaper. ``cache_key`` (optional) reuses
    the session's shared hashed-shingle index.
    """
    if cache_key is not None:
        exploded_h = shingle_hashes_cached(df, text_col, id_col, n, cache_key=cache_key)
    else:
        exploded_h = shingle_rows(df, text_col, id_col, n).select(
            "_id", F.xxhash64("_sh").alias("_h")
        )
    votes = exploded_h.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.col("_h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(63)
        ]
    )
    sim_expr = None
    for i in range(63):
        term = F.when(F.col(f"_b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim_expr = term if sim_expr is None else sim_expr.bitwiseOR(term)
    sh = votes.select("_id", sim_expr.alias("_sim"))
    return hamming_band_pairs(sh, "_id", "_sim", max_hamming)


def hamming_band_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    extra_key_cols: tuple[str, ...] = (),
    persist_bands: bool = True,
) -> DataFrame:
    """Near-dup pairs among 63-bit hashes (sign bit clear, in a long) by
    Hamming distance <= ``max_hamming``: candidate generation via 16-bit
    band equality (4 bands — any pair within distance 3 agrees on >= 1
    band by pigeonhole, so recall is exact for max_hamming <= 3), then the
    distance verified with bit_count(xor). Shared by SimHash text dedup,
    perceptual-hash image dedup (functions/imagehash.py), audio
    fingerprints (audiohash.py), and per-frame video matching
    (videohash.py). ``extra_key_cols`` join ALONGSIDE the band key —
    e.g. a frame position, so only same-position frames pair — and come
    back in the output. Returns (a_id, b_id, *extra_key_cols, hamming).

    ``persist_bands`` (default True, r13): both self-join legs consume
    ``bands``, and the a/b aliasing defeats ReuseExchange (r12 probe),
    so unpersisted each leg re-runs the ENTIRE upstream hash computation
    — for SimHash the 63 per-bit vote aggregates over the shingle index,
    for the image/audio/video callers the full media decode — twice
    (measured: docs_simhash_pairs −10.6 %, 5/5 paired deltas negative at
    sf1, benchruns/r13_ab_main_sf1.json). The persisted artifact is 4
    narrow rows per hash, released by the session's release_tracked
    sweep. Pass ``False`` when the input is corpus-sized with a CHEAP
    upstream (a stored-index read, e.g. phash_gate_against_index) —
    there the re-scan beats pinning 4 rows per stored hash, the same
    recompute-beats-persist posture as the asof legs and minhash
    band rows."""
    extras = list(extra_key_cols)
    maybe_persist = _persist if persist_bands else (lambda df: df)
    bands = maybe_persist(
        hashes.select(
            F.col(id_col).alias("_id"),
            F.col(hash_col).alias("_hv"),
            *extras,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftrightunsigned(F.col(hash_col), b * 16)
                            .bitwiseAND(F.lit(0xFFFF))
                            .alias("bucket"),
                        )
                        for b in range(4)
                    ]
                )
            ).alias("bb"),
        ).select("_id", "_hv", *extras, "bb.band", "bb.bucket")
    )
    left = bands.select(
        F.col("_id").alias("a_id"), F.col("_hv").alias("_ha"), *extras,
        "band", "bucket",
    )
    right = bands.select(
        F.col("_id").alias("b_id"), F.col("_hv").alias("_hb"), *extras,
        "band", "bucket",
    )
    return (
        left.join(right, ["band", "bucket", *extras])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id", *extras,
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Incremental-ingest dedup: classify each NEW document against an
    EXISTING corpus without ever comparing corpus docs to each other.

    The steady-state shape of a production corpus: the full N² (even
    inverted-index) pass ran once; every arriving batch only needs
    batch-vs-corpus checks. Cost is proportional to |batch| x avg posting
    list, not |corpus|²; the corpus side is scanned once for fingerprints
    and once for shingles.

    Returns one row per batch doc: (id, is_exact_dup, n_near_matches,
    best_jaccard) — best_jaccard is 0.0 when nothing clears the threshold.
    Exact dups (identical normalized text exists in the corpus) are ALSO
    near-dup matches by construction; pipelines usually drop on either.

    When ``max_shingle_freq`` fires it drops hot shingles from the CORPUS
    index only, so the score becomes a lower bound (inflated denominator)
    for affected docs — same conservative direction as a missed candidate,
    never a false positive. Identical to exact Jaccard when nothing is
    dropped (any corpus where no shingle exceeds the cap).
    """
    corpus_fp = corpus.select(fingerprint64(text_col).alias("_fp")).distinct()
    c_sh = shingle_rows(corpus, text_col, id_col, n).select(
        F.col("_id").alias("_cid"), F.xxhash64("_sh").alias("_h")
    )
    if max_shingle_freq is not None:
        # hot-key guard on the CORPUS posting lists (the big side)
        wf = Window.partitionBy("_h")
        c_sh = (
            c_sh.withColumn("_freq", F.count(F.lit(1)).over(wf))
            .filter(F.col("_freq") <= max_shingle_freq)
            .drop("_freq")
        )
    c_sh = _persist(c_sh)
    c_sizes = c_sh.groupBy("_cid").agg(F.count(F.lit(1)).alias("_cs"))
    return _classify_batch(
        batch, corpus_fp, c_sh, c_sizes, text_col, id_col, n, threshold
    )


def _classify_batch(
    batch: DataFrame,
    corpus_fp: DataFrame,
    c_sh: DataFrame,
    c_sizes: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    b_hashes: DataFrame | None = None,
) -> DataFrame:
    """Shared classification tail of incremental dedup: batch fingerprints
    vs corpus fingerprint set, batch shingles vs corpus inverted index
    (``c_sh``: (_cid, _h) guard-filtered; ``c_sizes``: (_cid, _cs) sizes
    over the SAME filtered universe)."""
    batch_fp = batch.select(
        F.col(id_col).alias("_id"), fingerprint64(text_col).alias("_fp")
    )
    exact = batch_fp.join(
        corpus_fp.withColumn("_hit", F.lit(True)), "_fp", "left"
    ).select("_id", F.coalesce("_hit", F.lit(False)).alias("is_exact_dup"))

    if b_hashes is not None:
        # caller already shingled+hashed (and persisted) the batch once —
        # absorb reuses one pass across classify / in-batch pairs / append
        b_sh = b_hashes.select(F.col("_id").alias("_bid"), "_h")
    else:
        b_sh = _persist(
            shingle_rows(batch, text_col, id_col, n).select(
                F.col("_id").alias("_bid"), F.xxhash64("_sh").alias("_h")
            )
        )
    b_sizes = b_sh.groupBy("_bid").agg(F.count(F.lit(1)).alias("_bs"))
    inter = (
        b_sh.join(c_sh, "_h")
        .groupBy("_bid", "_cid")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    near = (
        inter.join(b_sizes, "_bid")
        .join(c_sizes, "_cid")
        .select(
            "_bid",
            (
                F.col("_inter").cast("double")
                / (F.col("_bs") + F.col("_cs") - F.col("_inter")).cast("double")
            ).alias("_j"),
        )
        .filter(F.col("_j") >= threshold)
        .groupBy("_bid")
        .agg(
            F.count(F.lit(1)).alias("n_near_matches"),
            F.max("_j").alias("best_jaccard"),
        )
    )
    return (
        exact.join(near, exact["_id"] == near["_bid"], "left")
        .select(
            F.col("_id").alias(id_col),
            "is_exact_dup",
            F.coalesce("n_near_matches", F.lit(0)).alias("n_near_matches"),
            F.round(F.coalesce("best_jaccard", F.lit(0.0)), 4).alias("best_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Persisted dedup index: build once at ingest, classify batches forever —
# the steady state of a production corpus (mirrors the IVF index lifecycle
# in operators/ivf.py: fit/assign at ingest, query many times).
# --------------------------------------------------------------------------
def build_dedup_index(
    corpus: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_shingle_freq: int | None = 1000,
    edge_threshold: float | None = None,
) -> dict:
    """Materialize the corpus-side state of :func:`incremental_dedup`:

    - ``{path}/fingerprints`` — distinct exact-dup fingerprints (8 B/doc);
    - ``{path}/shingles``    — the guard-filtered inverted index
      (doc id, 64-bit shingle hash), the ONE full-text scan the corpus
      ever pays;
    - ``{path}/sizes``       — per-doc shingle counts over the SAME
      filtered universe (so scores match the direct operator exactly);
    - ``{path}/doc_ids``     — every corpus doc id (cluster node set);
    - ``{path}/edges``       — only when ``edge_threshold`` is given: the
      within-corpus near-dup candidate pairs (a_id, b_id, jaccard >=
      edge_threshold), computed off the SAME persisted inverted index in
      the same pass — so cluster builds on an indexed corpus
      (:func:`dup_clusters_indexed`) skip pair generation entirely;
    - ``{path}/meta``        — (n, max_shingle_freq, n_docs,
      edge_threshold) so consumers can refuse a parameter mismatch
      instead of silently mis-scoring.

    Every arriving batch then classifies against parquet — no re-scan,
    no re-shingle of corpus text. Returns {n_docs, n_shingles[, n_edges]}."""
    spark = corpus.sparkSession
    corpus_fp = corpus.select(fingerprint64(text_col).alias("_fp")).distinct()
    corpus_fp.write.mode("overwrite").parquet(f"{path}/fingerprints")

    c_sh = shingle_rows(corpus, text_col, id_col, n).select(
        F.col("_id").alias("_cid"), F.xxhash64("_sh").alias("_h")
    )
    if max_shingle_freq is not None:
        wf = Window.partitionBy("_h")
        c_sh = (
            c_sh.withColumn("_freq", F.count(F.lit(1)).over(wf))
            .filter(F.col("_freq") <= max_shingle_freq)
            .drop("_freq")
        )
    c_sh = _persist(c_sh)
    c_sh.write.mode("overwrite").parquet(f"{path}/shingles")
    c_sh.groupBy("_cid").agg(F.count(F.lit(1)).alias("_cs")).write.mode(
        "overwrite"
    ).parquet(f"{path}/sizes")
    corpus.select(F.col(id_col).cast("long").alias("_cid")).distinct().write.mode(
        "overwrite"
    ).parquet(f"{path}/doc_ids")
    n_docs = corpus.count()
    n_shingles = c_sh.count()
    stats = {"n_docs": n_docs, "n_shingles": n_shingles}
    if edge_threshold is not None:
        # pairs straight off the persisted post-guard index (guard already
        # applied, so max_shingle_freq=None here), renamed to the stored
        # column contract
        edges = ngram_jaccard_pairs(
            corpus,
            text_col,
            id_col,
            n=n,
            threshold=edge_threshold,
            max_shingle_freq=None,
            _hashes=c_sh.select(F.col("_cid").alias("_id"), "_h"),
        )
        edges.write.mode("overwrite").parquet(f"{path}/edges")
        stats["n_edges"] = spark.read.parquet(f"{path}/edges").count()
    release_persisted()
    spark.createDataFrame(
        [
            (
                int(n),
                -1 if max_shingle_freq is None else int(max_shingle_freq),
                n_docs,
                -1.0 if edge_threshold is None else float(edge_threshold),
            )
        ],
        "n int, max_shingle_freq int, n_docs long, edge_threshold double",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return stats


def incremental_dedup_indexed(
    spark,
    path: str,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Classify a batch against a :func:`build_dedup_index` corpus index.
    Output and scores are identical to :func:`incremental_dedup` on the
    original corpus (equivalence-tested); cost is |batch| work plus a
    hash-join against the parquet inverted index — corpus text is never
    touched again."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    out = _classify_batch(
        batch,
        spark.read.parquet(f"{path}/fingerprints"),
        spark.read.parquet(f"{path}/shingles"),
        spark.read.parquet(f"{path}/sizes"),
        text_col,
        id_col,
        int(meta["n"]),
        threshold,
    )
    return out


def dup_clusters_indexed(
    spark,
    path: str,
    threshold: float | None = None,
) -> DataFrame:
    """Connected-component labels (id, component) for the corpus behind a
    :func:`build_dedup_index` index built with ``edge_threshold`` — the
    cluster build that never re-touches corpus text OR re-generates
    pairs: edges and the node set come straight from parquet, so the cost
    is the CC closure alone (driver union-find for pair sets under the
    bounded-read cap, distributed rounds above it).

    ``threshold`` (optional) re-filters the stored edges to a HIGHER
    jaccard cutoff; asking for a lower one than the index stored raises
    (those pairs were never materialized). Labels are identical to
    running :func:`~..operators.cc.connected_components` over
    ``ngram_jaccard_pairs`` on the raw corpus (equivalence-tested)."""
    from .cc import connected_components

    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    stored = float(meta["edge_threshold"]) if "edge_threshold" in meta.__fields__ else -1.0
    if stored < 0:
        raise ValueError(
            f"dedup index at {path!r} was built without edge_threshold; "
            "rebuild with build_dedup_index(..., edge_threshold=...) to "
            "enable indexed cluster builds"
        )
    edges = spark.read.parquet(f"{path}/edges")
    if threshold is not None:
        if threshold < stored:
            raise ValueError(
                f"index stores edges at jaccard >= {stored}; cannot "
                f"cluster at the lower threshold {threshold}"
            )
        edges = edges.filter(F.col("jaccard") >= threshold)
    nodes = spark.read.parquet(f"{path}/doc_ids").select(F.col("_cid").alias("id"))
    return connected_components(
        edges, src="a_id", dst="b_id", nodes=nodes, assume_distinct=True
    )


def _positional_gram_stream(
    df: DataFrame, text_col: str, id_col: str, l: int
) -> DataFrame:
    """Positional ``l``-gram hash stream: (_id, _pos, _gh) — one row per
    token offset that starts a full l-token run (duplicates kept, positions
    kept). posexplode + per-doc lead window; the gram hashes to 8 bytes via
    xxhash64 (the package-wide collision posture). Shared by
    :func:`duplicate_span_stats` and :func:`remove_duplicate_spans`."""
    toks = _spread_for_cpu(df).select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(text_col)).alias("_pos", "_t0"),
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    parts = [F.col("_t0")] + [
        F.lead("_t0", j).over(w).alias(f"_t{j}") for j in range(1, l)
    ]
    last = F.lead("_t0", l - 1).over(w)
    return (
        toks.select(
            "_id",
            "_pos",
            F.xxhash64(F.concat_ws(" ", *parts)).alias("_gh"),
            last.alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )


def remove_duplicate_spans(
    df: DataFrame, text_col: str, id_col: str, l: int = 8
) -> DataFrame:
    """Exact-substring dedup REWRITE — the removal half of the Lee et al.
    recipe that :func:`duplicate_span_stats` only measures: every
    ``l``-token run that occurs more than once in the corpus keeps its
    first occurrence (canonical = smallest (doc id, position)) and every
    other occurrence's tokens are removed; documents are re-emitted with
    the surviving tokens.

    Semantics (deterministic, engine-replayable):

    1. positional l-gram hash stream (shared helper);
    2. per gram hash, rank occurrences by (doc id, position); rank > 1
       marks a removal interval [pos, pos + l);
    3. removal coverage = the UNION of non-canonical intervals (DISTINCT
       (doc, position) from the exploded intervals). NOTE: under
       self-overlap — a document repeating its own run, e.g. "x" * 10 —
       non-canonical intervals overlap the canonical run's tokens, so the
       canonical occurrence is only guaranteed to survive intact when the
       duplication is across documents (the dominant case);
    4. documents are rebuilt from their ORIGINAL text by filtering the
       token array against the doc's (small) removal-position set — the
       corpus text itself is never tokenized-and-reshuffled: only the
       removal positions aggregate, then join back to the docs frame on id.

    Scale posture (100 TB): the gram stream is token volume (the same one
    shuffle every near-dup operator pays, here keyed by gram hash for the
    rank); the interval explode is bounded by l x duplicated occurrences,
    NOT l x corpus; the rebuild joins the docs table once against a
    per-doc removal array whose size is bounded by that doc's duplicated
    tokens. Windows partition by gram hash / doc id — never global.

    Output: (id_col, n_tokens, removed_tokens, cleaned_text) for EVERY
    input document (docs shorter than ``l`` tokens pass through intact).
    """
    grams = _positional_gram_stream(df, text_col, id_col, l)
    w_gram = Window.partitionBy("_gh").orderBy(F.col("_id").asc(), F.col("_pos").asc())
    noncanon = (
        grams.withColumn("_rn", F.row_number().over(w_gram))
        .filter(F.col("_rn") > 1)  # rank > 1 exists only for duplicated grams
        .select("_id", "_pos")
    )
    return _excise_span_starts(df, noncanon, text_col, id_col, l)


def _excise_span_starts(
    df: DataFrame, starts: DataFrame, text_col: str, id_col: str, l: int
) -> DataFrame:
    """Shared rewrite tail: given (_id, _pos) span starts to excise,
    rebuild every input doc from its ORIGINAL token array minus the union
    of [pos, pos + l) intervals. Returns (id_col, n_tokens,
    removed_tokens, cleaned_text) for EVERY row of ``df``.

    Kernel (r7 rewrite, VERDICT r6 wart #2): the per-doc removal set is
    carried as MERGED disjoint intervals, not positions, and the doc is
    rebuilt by slicing the KEPT gaps out of the original token array —
    ``zip_with`` over (interval ends ++ [0], interval starts ++ [n])
    yields one ``slice`` per gap, so per-doc cost is O(|toks| + |iv|)
    array copying. The previous kernel filtered every token through
    ``array_contains`` over the removal array — an interpreted
    O(|toks| x |removed|) HOF that a pathological heavily-duplicated long
    doc (10k tokens, 80% removed) turned into ~10^8 comparisons; the
    adversarial benchmark in ``tests/test_operators.py`` pins the new
    shape. Interval merging is a classic running-max sweep (two windows +
    one aggregate) over the REMOVAL stream only, which is bounded by
    duplicated occurrences — corpus text still never reshuffles."""
    iv = starts.dropDuplicates(["_id", "_pos"]).select(
        "_id",
        F.col("_pos").cast("int").alias("_s"),
        (F.col("_pos") + l).cast("int").alias("_e"),
    )
    w = Window.partitionBy("_id").orderBy("_s", "_e")
    prev_max_e = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        iv.withColumn(
            "_new",
            F.when(prev_max_e.isNull() | (F.col("_s") > prev_max_e), 1).otherwise(0),
        )
        .withColumn(
            "_grp", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("_id", "_grp")
        .agg(F.min("_s").alias("s"), F.max("_e").alias("e"))
    )
    removal = merged.groupBy("_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_iv")
    )
    base = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).withColumn("_toks", tokens("_text"))
    joined = base.join(removal, "_id", "left").withColumn(
        "_iv", F.coalesce("_iv", F.array().cast("array<struct<s:int,e:int>>"))
    )
    # kept gaps between intervals: [0, s0), [e0, s1), ..., [e_last, n)
    kept = F.expr(
        "flatten(zip_with("
        "  concat(array(0), transform(_iv, x -> x.e)),"
        "  concat(transform(_iv, x -> x.s), array(size(_toks))),"
        "  (a, b) -> slice(_toks, a + 1, greatest(b - a, 0))))"
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.expr("aggregate(_iv, 0, (acc, x) -> acc + (x.e - x.s))")
        .cast("bigint")
        .alias("removed_tokens"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )


def remove_overlap_spans(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    l: int = 5,
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
) -> DataFrame:
    """Decontamination REWRITE — the removal counterpart of
    ``ngram_containment`` (which only measures): every ``l``-token run in
    a TRAIN document that also occurs anywhere in the BENCHMARK split is
    excised (union of [pos, pos+l) intervals), and train docs are
    re-emitted rebuilt from their original token arrays. This is the
    GPT-3/Lee-style n-gram decontamination applied as surgery instead of
    whole-doc dropping: a 10k-token document with one leaked benchmark
    sentence loses ~l tokens, not the document.

    Scale posture (100 TB train, benchmark ≪ train): the benchmark gram
    set is DISTINCT 8-byte hashes of a (small) eval suite — broadcastable
    at any realistic benchmark size; the train gram stream is token
    volume filtered by a semi-join against it, so only contaminated
    occurrences ever explode into intervals; the rebuild reuses the
    span-rewrite tail (per-doc removal arrays join back — train text
    never reshuffles). Output covers EVERY train doc."""
    bench_grams = (
        _positional_gram_stream(
            benchmark,
            bench_text_col if bench_text_col is not None else text_col,
            bench_id_col if bench_id_col is not None else id_col,
            l,
        )
        .select("_gh")
        .distinct()
    )
    hits = _positional_gram_stream(train, text_col, id_col, l).join(
        bench_grams, "_gh", "left_semi"
    ).select("_id", "_pos")
    return _excise_span_starts(train, hits, text_col, id_col, l)


def remove_overlap_spans_fixpoint(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    l: int = 5,
    max_iters: int = 5,
) -> DataFrame:
    """:func:`remove_overlap_spans` iterated to a fixpoint.

    A single removal pass can SYNTHESIZE a new contaminated run: excising
    a span makes previously-distant tokens adjacent, and the new
    adjacency may itself spell a benchmark ``l``-gram (e.g. benchmark
    holds "x y z" and "a b c"; train doc "a b x y z c" loses "x y z" and
    becomes exactly "a b c"). Single-pass is the published recipe and
    usually suffices; when the output must PROVABLY contain no benchmark
    run, iterate: each round rewrites only docs that still removed
    something, until a round removes nothing (or ``max_iters``, a safety
    bound like the CC loop's round cap — at l-token granularity each
    round strictly shrinks affected docs, so termination is guaranteed
    anyway once a doc is shorter than ``l``).

    Driver coordination cost: one bounded action per round (the count of
    docs still changing); each round's input is ONLY the still-dirty
    docs — clean docs exit the loop after their first quiet round.
    Returns the same shape as the single pass: (id_col, n_tokens
    ORIGINAL, removed_tokens CUMULATIVE, cleaned_text FINAL) for every
    train doc."""
    from ..functions.text import token_count

    base = train.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        F.col(text_col).alias("_cur"),
    )
    done_parts: list[DataFrame] = []
    cur = base.withColumn("_removed", F.lit(0).cast("bigint"))
    for _ in range(max_iters):
        step = remove_overlap_spans(
            cur.select(id_col, F.col("_cur")), benchmark, "_cur", id_col, l,
            bench_text_col=text_col, bench_id_col=id_col,
        ).select(
            id_col,
            F.col("removed_tokens").alias("_step_removed"),
            F.col("cleaned_text").alias("_next"),
        )
        cur = (
            cur.join(step, id_col)
            .select(
                id_col,
                "n_tokens",
                (F.col("_removed") + F.col("_step_removed")).alias("_removed"),
                F.col("_next").alias("_cur"),
                (F.col("_step_removed") > 0).alias("_dirty"),
            )
        )
        # per-round persist through the shared cachereg registry: the
        # returned union's clean parts read these caches, so release is
        # the CALLER's (release_persisted) once its action has run — the
        # same contract as the shingle-index persists
        cur = _persist(cur)
        n_dirty = cur.filter("_dirty").count()  # bounded: one count per round
        clean = cur.filter(~F.col("_dirty")).drop("_dirty")
        done_parts.append(clean)
        if n_dirty == 0:
            break
        cur = cur.filter("_dirty").drop("_dirty")
    else:
        done_parts.append(cur)  # max_iters hit: emit still-dirty as-is
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("_removed").cast("bigint").alias("removed_tokens"),
        F.col("_cur").alias("cleaned_text"),
    )


def duplicate_span_stats(
    df: DataFrame, text_col: str, id_col: str, l: int = 8
) -> DataFrame:
    """Exact-substring duplication coverage per document — the
    suffix-array-style dedup statistic (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): how many of each doc's
    tokens sit inside an ``l``-token run that appears at least twice
    anywhere in the corpus (other docs OR self-repetition).

    Spark-first plan, no suffix array needed for the statistic:

    1. positional ``l``-gram stream via posexplode + window leads (the
       codegen shingle machinery, positions kept, duplicates NOT dropped);
    2. grams hashed to 8 bytes, grouped, kept where total occurrences >= 2
       (one shuffle on the hash — the corpus-wide duplicate-run index);
    3. left-semi join the positional stream back to duplicated hashes:
       every occurrence becomes a covered interval [pos, pos + l);
    4. gaps-and-islands per doc (running max-end window) merges
       overlapping/adjacent intervals exactly, so coverage is never
       double-counted; island coverage = max(pos)+l - min(pos).

    Scale posture (100 TB): gram rows ~= token count (same volume the
    near-dup operators already stream); the duplicate index is count-only
    (a hot boilerplate gram cannot explode a join — step 3 is a semi-join
    that returns each positional row at most once); windows partition by
    doc, never globally. 64-bit gram hashing follows the MinHash/containment
    operators' collision posture.

    Output: (id_col, n_tokens, dup_tokens, dup_frac) for EVERY input doc
    (docs shorter than ``l`` tokens or with no duplicated runs report 0).
    """
    from ..functions.text import token_count

    grams = _positional_gram_stream(df, text_col, id_col, l)
    dup_index = grams.groupBy("_gh").count().filter(F.col("count") >= 2)
    spans = grams.join(dup_index.select("_gh"), "_gh", "left_semi")

    w_doc = Window.partitionBy("_id").orderBy("_pos")
    prev_max_end = F.max(F.col("_pos") + l).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col("_pos") > prev_max_end), 1
    ).otherwise(0)
    islands = spans.withColumn(
        "_island",
        F.sum(new_island).over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    coverage = (
        islands.groupBy("_id", "_island")
        .agg((F.max("_pos") + l - F.min("_pos")).alias("_cov"))
        .groupBy("_id")
        .agg(F.sum("_cov").alias("dup_tokens"))
    )
    base = df.select(F.col(id_col).alias("_id"), token_count(text_col).alias("n_tokens"))
    return (
        base.join(coverage, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"),
                ).otherwise(F.lit(0.0))
                + 1e-9,
                6,
            ).alias("dup_frac"),
        )
    )


def absorb_batch_into_index(
    spark,
    path: str,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> dict:
    """Accept-and-grow half of the index lifecycle: classify ``batch``
    against a :func:`build_dedup_index` corpus index, and APPEND the
    accepted documents' state (fingerprint, guard-filtered shingle
    postings, size, doc id) so future batches classify against them —
    the steady-state ingest loop never re-touches corpus text. The batch
    is shingled ONCE; classification, in-batch pair generation and the
    posting append all reuse that pass.

    Acceptance = not an exact dup, no corpus near-match at
    ``threshold``, and not dominated within the batch (exact: min-id per
    fingerprint wins; near: ``a_id < b_id`` pair convention, the higher
    id drops). Returns {n_batch (delivered, post-null-filter),
    n_accepted, n_rejected_exact (corpus fingerprint hits),
    n_rejected_near (corpus near-matches), n_rejected_batch (in-batch
    exact + near dominated)}.

    Replay/crash posture (document-level, no transaction log): appends
    run fingerprints → doc_ids → sizes → shingles, and the FINGERPRINT
    is the commit gate — a replayed batch rejects its absorbed docs as
    exact dups, so nothing is ever appended twice, whatever prefix of
    the sequence a crash allowed (fingerprint-only: the doc rejects
    future exacts but lacks postings — bounded near-recall loss for that
    doc, no score corruption; sizes-without-postings is inert because
    the near join is driven from the postings side). `{path}/meta` is
    IMMUTABLE after build (its ``n_docs`` records the build-time corpus;
    current count = `{path}/doc_ids`), so no maintenance write can brick
    the index. Single writer assumed (the foreachBatch loop), like every
    parquet append here.

    Hot-shingle guard under growth: the stored index keeps at most
    ``max_shingle_freq`` postings per hash. Batch postings for a hash
    are appended only while stored + batch stays within the cap, else
    the batch's rows for that hash are skipped (first-seen postings win
    — an Elasticsearch-style per-term cap). A REBUILD drops over-cap
    hashes entirely; both bound join fan-out, and scores for docs
    dominated by over-cap shingles can differ between the absorbed and
    rebuilt index (equivalence below the cap is tested). Appends
    accumulate one file set per batch — run :func:`compact_dedup_index`
    periodically (the MergeTree-merge analogue) to keep listing costs
    flat."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    n = int(meta["n"])
    msf = None if meta["max_shingle_freq"] < 0 else int(meta["max_shingle_freq"])
    # pre-r4 indexes lack edge_threshold — same guarded access (and the
    # same -1.0 "no stored edges" sentinel) as incremental_dedup_indexed
    et = (
        float(meta["edge_threshold"])
        if "edge_threshold" in meta.__fields__
        else -1.0
    )
    if et >= 0 and threshold > et:
        raise ValueError(
            f"index stores near-dup edges at jaccard >= {et}; absorbing "
            f"with threshold {threshold} > {et} would admit documents "
            f"whose edges in [{et}, {threshold}) are never materialized — "
            "absorb at threshold <= edge_threshold or rebuild"
        )

    src_raw = _persist(
        batch.select(
            F.col(id_col).cast("long").alias("_id"),
            F.col(text_col).alias("_txt"),
        ).filter(F.col("_id").isNotNull())
    )
    n_batch = src_raw.count()
    # within-batch exact dedup: min id per fingerprint wins (duplicate
    # DELIVERY of one doc in a batch must not double-absorb)
    wfp = Window.partitionBy(fingerprint64("_txt")).orderBy("_id")
    src = _persist(
        src_raw.withColumn("_rk", F.row_number().over(wfp))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    # (no count action here — the in-batch-exact drop count is already
    # folded into n_rejected_batch via n_batch - n_exact - n_near - n_final)

    # the ONE shingling pass for this batch
    b_hashes = _persist(
        shingle_rows(src, "_txt", "_id", n).select(
            "_id", F.xxhash64("_sh").alias("_h")
        )
    )
    # forgotten docs (operators/forget.py tombstones, not yet vacuumed)
    # must stop blocking new arrivals: anti-join the corpus-side tables
    # against the broadcast-sized tombstones before classification
    from .forget import read_dedup_tombstones

    id_ts, fp_ts = read_dedup_tombstones(spark, path)
    fp_tbl = spark.read.parquet(f"{path}/fingerprints")
    if fp_ts is not None:
        fp_tbl = fp_tbl.join(F.broadcast(fp_ts), "_fp", "left_anti")
    sh_tbl = spark.read.parquet(f"{path}/shingles")
    sz_tbl = spark.read.parquet(f"{path}/sizes")
    if id_ts is not None:
        sh_tbl = sh_tbl.join(F.broadcast(id_ts), "_cid", "left_anti")
        sz_tbl = sz_tbl.join(F.broadcast(id_ts), "_cid", "left_anti")
    cls = _persist(
        _classify_batch(
            src,
            fp_tbl,
            sh_tbl,
            sz_tbl,
            "_txt",
            "_id",
            n,
            threshold,
            b_hashes=b_hashes,
        )
    )
    n_exact = cls.filter(F.col("is_exact_dup")).count()
    n_near = cls.filter(
        ~F.col("is_exact_dup") & (F.col("n_near_matches") > 0)
    ).count()
    clean = src.join(
        cls.filter(
            ~F.col("is_exact_dup") & (F.col("n_near_matches") == 0)
        ).select("_id"),
        "_id",
        "left_semi",
    )
    # within-batch near dedup among the survivors (same pair convention
    # as the corpus operator: the higher id of each pair drops), off the
    # shared hash pass
    drop = ngram_jaccard_pairs(
        clean, "_txt", "_id", n=n, threshold=threshold,
        max_shingle_freq=msf,
        _hashes=b_hashes.join(clean.select("_id"), "_id", "left_semi"),
    ).select(F.col("b_id").alias("_id")).distinct()
    # SEVER the lineage before any append: final's plan READS the very
    # parquet paths the appends below modify, and Spark caching is
    # best-effort — a cache-evicted re-evaluation mid-append-sequence
    # would re-classify against the half-updated index. localCheckpoint
    # (eager) pins the accepted set as DATA, not a plan.
    final = clean.join(drop, "_id", "left_anti").localCheckpoint(eager=True)
    n_final = final.count()
    stats = {
        "n_batch": n_batch,
        "n_accepted": n_final,
        "n_rejected_exact": n_exact,
        "n_rejected_near": n_near,
        "n_rejected_batch": n_batch - n_exact - n_near - n_final,
    }
    if n_final == 0:
        release_persisted()
        return stats

    f_sh = b_hashes.join(final.select("_id"), "_id", "left_semi").select(
        F.col("_id").alias("_cid"), "_h"
    )
    if msf is not None:
        stored_cnt = (
            sh_tbl  # tombstone-filtered view: forgotten docs free their cap slots
            .join(f_sh.select("_h").distinct(), "_h", "left_semi")
            .groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_sc"))
        )
        batch_cnt = f_sh.groupBy("_h").agg(F.count(F.lit(1)).alias("_bc"))
        ok = (
            batch_cnt.join(stored_cnt, "_h", "left")
            .filter(
                F.coalesce(F.col("_sc"), F.lit(0)) + F.col("_bc") <= msf
            )
            .select("_h")
        )
        f_sh = f_sh.join(ok, "_h", "left_semi")
    # same lineage severing as `final`: the guard read the stored shingles
    f_sh = f_sh.localCheckpoint(eager=True)
    # re-accepted content must leave the tombstone tables BEFORE the
    # appends, else a later vacuum would delete rows the new owners rely
    # on (an accepted doc whose fingerprint physically survives from a
    # forgotten predecessor re-livens that row rather than duplicating
    # it). Cleared-then-crash = the fingerprint-gate posture below.
    if id_ts is not None or fp_ts is not None:
        from .forget import clear_tombstones_for

        clear_tombstones_for(spark, path, final, "_txt", "_id")
    # append order = crash posture documented above (fingerprint = gate)
    final.select(fingerprint64("_txt").alias("_fp")).distinct().join(
        spark.read.parquet(f"{path}/fingerprints"), "_fp", "left_anti"
    ).write.mode("append").parquet(f"{path}/fingerprints")
    final.select(F.col("_id").alias("_cid")).write.mode("append").parquet(
        f"{path}/doc_ids"
    )
    f_sh.groupBy("_cid").agg(F.count(F.lit(1)).alias("_cs")).write.mode(
        "append"
    ).parquet(f"{path}/sizes")
    f_sh.write.mode("append").parquet(f"{path}/shingles")
    release_persisted()
    return stats


def compact_dedup_index(spark, path: str, target_rows_per_file: int = 4_000_000) -> dict:
    """Offline maintenance for an absorb-grown index (the MergeTree-merge
    analogue): rewrite each table's accumulated per-batch file sets into
    few large files so listing/footer costs stay flat as triggers
    accumulate. NOT concurrency-safe with a running ingest stream — run
    it in the stream's maintenance window (single-writer discipline, same
    as the compaction job in sources/gold_layout.py).

    Each table is rewritten through `{table}.compact-tmp` then swapped
    via two renames (live → `.compact-old`, tmp → live). Crash recovery
    RESTORES before it deletes: on entry, if the live dir is missing (a
    crash landed between the two renames), the table is brought back
    from `.compact-tmp` when that write completed (Spark's ``_SUCCESS``
    marker) else from `.compact-old`; leftover staging dirs are removed
    only AFTER the live dir is confirmed present. Re-running therefore
    converges from any crash point without a window in which the only
    copies of the table are staged. All directory ops route through the
    Hadoop ``FileSystem`` backend of :mod:`..sources.storage`, so the
    swap works on any scheme the session can reach, not just the local
    filesystem; every swap step below renames onto a path proven
    absent."""
    fs = HadoopIO(spark)
    out = {}
    for tbl in ("fingerprints", "shingles", "sizes", "doc_ids"):
        src_dir = f"{path}/{tbl}"
        tmp_dir = f"{path}/{tbl}.compact-tmp"
        old_dir = f"{path}/{tbl}.compact-old"
        if not fs.exists(src_dir):
            # prior run crashed between the two renames: the compacted
            # copy (if complete) or the pre-compaction original IS the
            # table — restore it first, delete nothing yet
            if fs.exists(f"{tmp_dir}/_SUCCESS"):
                fs.rename(tmp_dir, src_dir)
            elif fs.exists(old_dir):
                fs.rename(old_dir, src_dir)
            else:
                raise FileNotFoundError(
                    f"dedup index table missing and no staged copy to "
                    f"restore: {src_dir}"
                )
        # live table confirmed present — staging leftovers are now dead
        fs.rmtree(tmp_dir)
        fs.rmtree(old_dir)
        df = spark.read.parquet(src_dir)
        rows = df.count()
        n_files = max(1, rows // max(1, target_rows_per_file))
        df.repartition(n_files).write.parquet(tmp_dir)
        fs.rename(src_dir, old_dir)
        fs.rename(tmp_dir, src_dir)
        fs.rmtree(old_dir)
        out[tbl] = {"rows": rows, "files": n_files}
    return out
