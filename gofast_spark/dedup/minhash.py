"""MinHash + LSH banded near-duplicate detection (bucketed, never O(n²)).

Pipeline (each stage a hash-partitionable DataFrame op):

1. shingle:   text -> normalized token k-grams, distinct per doc (explode —
              linear in corpus size).
2. hash:      portable char hash of each shingle (text.hashing) so DuckDB
              reproduces every signature bit-for-bit.
3. sign:      K minhash values  mh_j = min over shingles of (a_j*h+b_j) mod P
              — one groupBy(doc) with K min() aggregates (map-side partial).
4. band:      K/r band keys; docs sharing any band key become candidates
              via a self equi-join on (band_idx, band_key) — the ONLY join,
              and it is bucketed: cost is sum of squared bucket sizes, not
              n².  AQE's skew-join splitting handles pathological buckets
              (e.g. a boilerplate string shared by millions of docs).
5. verify:    exact shingle-set Jaccard for candidates only.

Scale notes: no crossJoin anywhere; the shuffles key on doc_id / band_key
which are high-cardinality; K=16, r=2 targets ~0.7+ Jaccard (P(candidate)
= 1-(1-j^r)^b).

Reference: net-new per the builder brief (the reference's
``handle_duplicates``, gofast/dataops/quality.py:4677, is exact-only).
Published algorithm: Broder's MinHash / LSH banding (MMDS ch. 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.session import pin
from gofast_spark.text.analysis import normalize_text
from gofast_spark.text.hashing import md5_hash64

# Mersenne prime 2^31-1; (a*h+b) mod P with h < 2^31 keeps every
# intermediate < 2^62 — safe in int64 on both Spark and DuckDB.
MINHASH_P = 2147483647

# near_dup_pairs broadcasts its verify-stage set and candidate-id legs
# only while the candidate pair count is at most this many rows.
_BROADCAST_CANDIDATES = 50_000


def _make_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs via two mixed LCGs (Knuth/Numerical
    Recipes multipliers).  Pure Python ints — the same literals are baked
    into both the Spark plan and the DuckDB oracle SQL."""
    out = []
    a, b = 1, 0
    for _ in range(k):
        a = (a * 2654435761 + 1013904223) % MINHASH_P
        b = (b * 22695477 + 1) % MINHASH_P
        out.append((a if a > 0 else 1, b))
    return out


MINHASH_COEFFS: list[tuple[int, int]] = _make_coeffs(16)


def spread_small_scan(df: DataFrame, *, assume_spread: bool = False) -> DataFrame:
    """Library-safety guard for compute-heavy per-row projections
    (VERDICT r15 #8): when ``df`` is a bare LOCAL file scan whose
    estimated split count is below the session's parallelism, add a
    round-robin repartition so the shingle/token projection does not
    run on one core.  Result-neutral by construction (only ever
    adds/skips a repartition).

    No RDD probe: the estimate reads the scan's file sizes off the
    driver (``df.inputFiles()``) and mirrors Spark's FilePartition
    split math; inputs that already carry a repartition (the catalog's
    ``plans/catalog_llm._docs`` spread), non-local URIs, streaming
    frames, or derived plans are left untouched.  ``assume_spread=True``
    skips the guard outright for callers that own the contract."""
    if assume_spread:
        return df
    try:
        if df.isStreaming:
            return df
        import os as _os
        import urllib.parse as _up

        files = df.inputFiles()
        if not files:
            return df
        paths = []
        for f in files:
            u = _up.urlparse(f)
            if u.scheme not in ("", "file"):
                return df  # non-local: cannot estimate cheaply
            paths.append(_up.unquote(u.path))
        # a repartition above the scan means a caller already owns the
        # spread — do not stack another exchange on top
        plan = df._jdf.queryExecution().analyzed().toString()
        if "Repartition" in plan:
            return df
        spark = df.sparkSession
        target = spark.sparkContext.defaultParallelism
        mpb = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        open_cost = int(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
        )
        # conf.get validates non-None defaults against the key's
        # requirement (a "0" default throws on minPartitionNum) — use
        # None defaults and coalesce in Python
        par = (
            int(spark.conf.get("spark.sql.files.minPartitionNum", None) or 0)
            or int(
                spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
                or 0
            )
            or target
        )
        total = sum(_os.path.getsize(p) + open_cost for p in paths)
        max_split = min(mpb, max(open_cost, total // max(1, par)))
        est = max(1, -(-total // max(1, max_split)))
        if est < target:
            return df.repartition(target)
        return df
    except Exception:  # noqa: BLE001 — guard must never break a read
        return df


def doc_shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    arr_col: str = "sh_set",
    merge_fragments: bool = False,
) -> DataFrame:
    """(id, array<int64> of distinct shingle hashes) — one row per doc.

    Input contract: ONE ROW PER ``id_col`` VALUE.  The shuffle-free plan
    computes each doc's shingle set inside the doc's own row, so an id
    spanning several rows (a document split across page/chunk rows)
    yields one output row PER FRAGMENT — downstream signatures and
    Jaccard would then be fragment-level (ADVICE r5).  Pass
    ``merge_fragments=True`` for such inputs: fragment sets union per id
    through one groupBy (the only extra shuffle).

    Shingles are ``|``-joined runs of ``k`` normalized tokens; a doc with
    fewer than ``k`` tokens contributes its whole token string as one
    shingle.  Every shingle of a doc lives in the doc's own row, so the
    distinct-per-doc step is ``array_distinct`` — a per-row expression,
    NOT a corpus-wide ``dropDuplicates`` shuffle.  This is the property
    that keeps the whole MinHash pipeline shuffle-free until the band
    join: signatures (array_min over a transform) and set sizes (size)
    are projections of this frame.

    Input-partitioning contract: the shingle projection is compute-heavy,
    so a single-part source would pin it to one core.  Callers that
    pre-spread small inputs (the catalog does it once in
    ``plans/catalog_llm._docs``) are detected and left untouched;
    otherwise :func:`spread_small_scan` adds a result-neutral
    repartition when the input is a bare small local file scan (no RDD
    probe — file-size estimate only).  Derived plans it cannot estimate
    are passed through unchanged: pre-spread those yourself.
    """
    df = spread_small_scan(df)

    # Build k-grams per row from the token array (transform over a
    # sequence of start offsets, concat of direct element references —
    # r15: cheaper than the old slice + array_join per offset, identical
    # strings since split() tokens are never NULL).  The lambda runs
    # interpreted, but it is strictly per-row — NO shuffle — which beats
    # the alternative posexplode + lead() window (the window must
    # hash-partition and sort every token by (doc, pos); this stays
    # embarrassingly parallel).
    toks = F.split(normalize_text(text_col), " ")
    base = df.select(
        F.col(id_col), toks.alias("__t"), F.size(toks).alias("__sz")
    )
    els = ", '|', ".join(f"__t[i + {j}]" for j in range(k))
    sh_arr = F.when(
        F.col("__sz") < k, F.array(F.array_join(F.col("__t"), "|"))
    ).otherwise(
        F.expr(f"transform(sequence(0, __sz - {k}), i -> concat({els}))")
    )
    # md5-based portable hash folded into [0, 2^31) so the minhash
    # (a*h+b) products stay within int64 on both engines
    hashed = F.transform(
        sh_arr, lambda s: F.pmod(md5_hash64(s), F.lit(2**31))
    )
    out = base.select(
        F.col(id_col), F.array_distinct(hashed).alias(arr_col)
    )
    if merge_fragments:
        out = out.groupBy(id_col).agg(
            F.array_distinct(F.flatten(F.collect_list(arr_col))).alias(arr_col)
        )
    return out


def doc_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    hash_col: str = "sh_hash",
) -> DataFrame:
    """(id, shingle_hash) exploded, distinct per doc.

    Explode of :func:`doc_shingle_sets` — the distinct happened per-row
    in the array, so no corpus-wide shuffle is needed here either.
    Output has one row per distinct shingle per doc, PROVIDED the input
    honors the one-row-per-doc contract (see :func:`doc_shingle_sets`;
    multi-row ids need its ``merge_fragments=True`` first — fragments
    sharing a shingle would otherwise emit duplicate (id, hash) rows).
    Partitioning contract as in :func:`doc_shingle_sets`: pre-spread
    derived single-part inputs (bare small local scans are auto-spread).
    """
    sets_df = doc_shingle_sets(df, id_col, text_col, k=k)
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # `size(sh_set) > 0 AND isnotnull(sh_set)` filter and push it below
    # the spread repartition onto the (often single-partition) file scan,
    # re-evaluating the whole shingle expression single-threaded — a 20x
    # slowdown at sf0.1.  explode_outer infers no filter; the isNotNull
    # on the GENERATED column cannot be pushed below the Generate, and
    # shingle sets are non-empty by construction so the semantics match.
    return sets_df.select(
        F.col(id_col), F.explode_outer("sh_set").alias(hash_col)
    ).where(F.col(hash_col).isNotNull())


def minhash_signatures(
    shingle_df: DataFrame,
    id_col: str,
    *,
    hash_col: str = "sh_hash",
    num_hashes: int = 16,
    include_size: bool = False,
) -> DataFrame:
    """One row per doc with columns ``mh_0..mh_{K-1}``.

    Single groupBy with K min() aggregates — partial aggregation happens
    map-side, so the shuffle carries one K-wide row per doc per partition.

    ``include_size`` folds the per-doc distinct-shingle count (``n_sh``)
    into the same groupBy as a 17th aggregate, so the Jaccard verify
    stage reads sizes from this (tiny) frame instead of making a second
    aggregation pass over the full shingle frame."""
    coeffs = MINHASH_COEFFS[:num_hashes]
    h = F.col(hash_col)
    aggs = [
        F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_P))).alias(f"mh_{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    if include_size:
        # shingle_df is already distinct per (doc, hash), so a plain
        # count is the distinct-shingle set size
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    return shingle_df.groupBy(id_col).agg(*aggs)


def minhash_signatures_from_sets(
    sets_df: DataFrame,
    id_col: str,
    *,
    arr_col: str = "sh_set",
    num_hashes: int = 16,
    include_size: bool = False,
) -> DataFrame:
    """Signatures as a pure projection of the per-doc shingle-set frame:
    ``mh_j = array_min(transform(set, h -> (a_j*h+b_j) mod P))``.

    No groupBy at all — each doc's signature is computed inside its own
    row, so the only shuffle left in the whole MinHash pipeline is the
    LSH band self-join.  One-row-per-doc contract applies (see
    :func:`doc_shingle_sets`): a multi-fragment id yields one signature
    per fragment, and ``include_size`` counts per-fragment set sizes —
    merge fragments upstream when ids can repeat."""
    coeffs = MINHASH_COEFFS[:num_hashes]
    arr = F.col(arr_col)

    def _perm(a: int, b: int):
        # closure factory: PySpark derives the HOF arity from the
        # lambda's parameter count, so defaults can't be used to bind
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_P))

    cols = [F.col(id_col)]
    for j, (a, b) in enumerate(coeffs):
        cols.append(
            F.array_min(F.transform(arr, _perm(a, b))).alias(f"mh_{j}")
        )
    if include_size:
        cols.append(F.size(arr).alias("n_sh"))
    return sets_df.select(*cols)


def lsh_band_keys(
    sig_df: DataFrame,
    id_col: str,
    *,
    num_hashes: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band_idx, band_key) — each signature exploded into its LSH
    band keys.  Band key packs ``r`` consecutive minhashes into one
    int64 (``mh_{rb} * 2^31 + mh_{rb+1}`` for r=2)."""
    n_bands = num_hashes // rows_per_band
    bands = []
    for b in range(n_bands):
        key = F.lit(0).cast("bigint")
        for r in range(rows_per_band):
            key = key * F.lit(2**31) + F.col(f"mh_{b * rows_per_band + r}")
        bands.append(F.struct(F.lit(b).alias("band_idx"), key.alias("band_key")))
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bk")
    ).select(id_col, "bk.band_idx", "bk.band_key")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    *,
    num_hashes: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs sharing >= 1 LSH band key.

    The self-join is an equi-join on (band_idx, band_key): bucketed
    candidate generation (see :func:`lsh_band_keys`).
    """
    exploded = lsh_band_keys(
        sig_df, id_col, num_hashes=num_hashes, rows_per_band=rows_per_band
    )
    a = exploded.alias("a")
    b_ = exploded.alias("b")
    return (
        a.join(
            b_,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates()
    )


def shingle_jaccard(
    shingle_df: DataFrame,
    pairs_df: DataFrame,
    id_col: str,
    *,
    hash_col: str = "sh_hash",
    sizes_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle-hash sets for the given (id_a, id_b)
    pairs: |A ∩ B| via an equi-join on the shingle hash, |A ∪ B| from the
    per-doc set sizes.  Cost scales with candidate count, not corpus².

    ``sizes_df`` (optional, columns [id_col, n_sh]) supplies per-doc set
    sizes computed elsewhere (e.g. folded into the signature groupBy) so
    no second aggregation pass over the shingle frame is needed."""
    if sizes_df is None:
        sizes_df = shingle_df.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_sh")
        )
    # unique internal names on each self-join leg avoid ambiguous refs
    xa = shingle_df.select(
        F.col(id_col).alias("__xa_id"), F.col(hash_col).alias("__ha")
    )
    xb = shingle_df.select(
        F.col(id_col).alias("__xb_id"), F.col(hash_col).alias("__hb")
    )
    inter = (
        pairs_df.join(xa, F.col("id_a") == F.col("__xa_id"))
        .join(xb, (F.col("id_b") == F.col("__xb_id")) & (F.col("__ha") == F.col("__hb")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes_df.select(F.col(id_col).alias("__na_id"), F.col("n_sh").alias("n_a"))
    nb = sizes_df.select(F.col(id_col).alias("__nb_id"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(na, F.col("id_a") == F.col("__na_id"))
        .join(nb, F.col("id_b") == F.col("__nb_id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    merge_fragments: bool = False,
) -> DataFrame:
    """End-to-end near-duplicate pairs: shingle -> minhash -> LSH bands ->
    exact-Jaccard verify >= threshold.

    Input contract: ONE ROW PER DOCUMENT — the shuffle-free plan keeps
    each doc's shingle set inside its own row, so a doc id spanning
    several rows (a document split across page/chunk rows) would get one
    signature per fragment and fragment-level pairs.  Pass
    ``merge_fragments=True`` for such inputs: the fragment sets union
    per id through one groupBy (the only extra shuffle) before signing.
    Partitioning contract as in :func:`doc_shingle_sets`: pre-spread
    derived single-part inputs (bare small local scans are auto-spread,
    no RDD probe).

    Plan shape (the whole point): the per-doc shingle-set frame keeps
    each doc's distinct shingles inside the doc's own row, so signatures
    and set sizes are per-row projections and the ONLY shuffle in the
    pipeline is the LSH band self-join (cost Σ bucket², never n²).  The
    verify stage never shuffles the corpus either: candidate pairs are
    broadcast, the set frame is broadcast-semi-filtered to candidate
    docs, and Jaccard is ``array_intersect`` per pair row — no groupBy.

    The tiny candidate and result frames are pinned while the set frame
    is cached, and the set frame is **unpersisted before returning**, so
    repeated calls in a long session cannot accumulate executor storage
    (ADVICE r2): a pin holds no CacheManager entry, and its blocks are
    freed by the ContextCleaner once the returned frame is
    garbage-collected — no caller-side ``unpersist`` obligation.

    Broadcasting the candidate-doc SET frames (full shingle arrays) into
    the verify joins is only safe while the candidate population is
    genuinely small: on a duplicate-heavy corpus candidates approach the
    corpus and the build side would blow past executor memory (ADVICE
    r5).  The candidate pin therefore observes the pair count and only
    broadcasts the set and candidate-id legs when pairs <=
    ``_BROADCAST_CANDIDATES``; above it those joins shuffle."""

    def _verify(
        sets_df: DataFrame,
        cand: DataFrame,
        bcast_ids: bool,
        bcast_sets: bool,
    ) -> DataFrame:
        cand_ids = (
            cand.select(F.col("id_a").alias("__cid"))
            .union(cand.select(F.col("id_b").alias("__cid")))
            .distinct()
        )
        if bcast_ids:
            cand_ids = F.broadcast(cand_ids)
        sub = sets_df.join(
            cand_ids, F.col(id_col) == F.col("__cid"), "left_semi"
        )
        xa = sub.select(
            F.col(id_col).alias("__a_id"), F.col("sh_set").alias("__a_set")
        )
        xb = sub.select(
            F.col(id_col).alias("__b_id"), F.col("sh_set").alias("__b_set")
        )
        if bcast_sets:
            xa, xb = F.broadcast(xa), F.broadcast(xb)
        inter = F.size(F.array_intersect(F.col("__a_set"), F.col("__b_set")))
        union = (
            F.size(F.col("__a_set")) + F.size(F.col("__b_set")) - inter
        )
        return (
            cand.join(xa, F.col("id_a") == F.col("__a_id"))
            .join(xb, F.col("id_b") == F.col("__b_id"))
            .select(
                "id_a", "id_b", (inter / union).alias("jaccard")
            )
            .where(F.col("jaccard") >= threshold)
        )

    def _sets(src: DataFrame) -> DataFrame:
        sd = doc_shingle_sets(src, id_col, text_col, k=k)
        if merge_fragments:
            sd = sd.groupBy(id_col).agg(
                F.array_distinct(F.flatten(F.collect_list("sh_set"))).alias(
                    "sh_set"
                )
            )
        return sd

    sets_df = _sets(df).persist()
    try:
        # candidates are bounded by Σ bucket² — pin them (materializing
        # the persisted set frame in the same job) so the verify stage
        # can broadcast a computed frame
        sig = minhash_signatures_from_sets(
            sets_df, id_col, num_hashes=num_hashes
        )
        cand, m = pin(
            lsh_candidate_pairs(
                sig, id_col,
                num_hashes=num_hashes, rows_per_band=rows_per_band,
            ),
            "near_dup:candidates",
            n=F.count(F.lit(1)),
        )
        # the pair count gates whether the full set arrays may ride the
        # broadcast build side — and the candidate-ID frame too: its
        # rows are bounded by 2x pairs, so on a duplicate-heavy corpus
        # it approaches corpus cardinality and must not be broadcast
        # unconditionally either (ADVICE r5, same failure mode as the
        # set frames)
        small = m["n"] <= _BROADCAST_CANDIDATES
        return pin(
            _verify(sets_df, cand, bcast_ids=small, bcast_sets=small),
            "near_dup:pairs",
        )[0]
    finally:
        sets_df.unpersist()


def lsh_collision_curve(
    spark: SparkSession,
    *,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    steps: int = 19,
) -> DataFrame:
    """The planner's view of a banding scheme BEFORE a 100-TB run: for
    each Jaccard similarity ``s`` on a ``steps``-point grid, the
    probability an LSH candidate pair forms,
    ``P(s) = 1 - (1 - s^r)^b`` with ``b = num_hashes / rows_per_band``
    bands of ``r`` rows (Broder 1997; the S-curve analysis in Leskovec
    et al., Mining of Massive Datasets ch. 3), plus the scheme's
    threshold estimate ``(1/b)^(1/r)`` where the curve is steepest.

    Choosing (b, r) off this frame replaces re-running the whole dedup
    pipeline per setting — the difference between one arithmetic-only
    job and several corpus-scale ones."""
    b = num_hashes // rows_per_band
    if b * rows_per_band != num_hashes:
        raise ValueError("rows_per_band must divide num_hashes")
    r = rows_per_band
    s = (F.col("id") + 1) / F.lit(float(steps + 1))
    return spark.range(steps).select(
        F.round(s, 6).alias("s"),
        F.round(
            F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(s, F.lit(r)), F.lit(b)),
            6,
        ).alias("p_candidate"),
        F.round(F.pow(F.lit(1.0 / b), F.lit(1.0 / r)), 6).alias(
            "threshold_est"
        ),
    )
