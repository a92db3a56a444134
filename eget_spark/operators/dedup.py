"""Document deduplication for training-data pipelines.

Five strategies over a document table (id, text [, embedding]):

- exact: hash-groupBy on md5(text) — one shuffle on a short key
- minhash + LSH: shingle -> K minhashes -> B bands -> bucket join; candidate
  pairs only within equal band signatures, verified by true Jaccard
- simhash: 64-bit (here parameterizable) bitwise-majority signature, pairs
  within Hamming distance via band blocking
- n-gram Jaccard: inverted-index self-join on shingles (exact, for small
  thresholds use minhash instead)
- embedding cosine near-dup: blocked brute-force over the embedding column

All are pure DataFrame ops (the hashing uses built-in md5/conv — JVM-side),
so they scale with shuffle parallelism; the LSH band join is the 100 TB
path (candidate set ~ O(n · dup_rate) instead of O(n^2)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import shingles
from ..session import scoped_conf


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per exact text hash.
    Returns (hash, keep_id, dup_count)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """Minhash j = min over shingles of md5(j || ':' || shingle).

    Shape: explode shingles once -> per-row hashes -> groupBy(id) min. Each
    minhash is the first 60 bits of md5 as a BIGINT: numeric order equals
    lexicographic order on the hex prefix, so it is the same min-wise
    permutation, but a LONG agg buffer keeps the aggregate in HashAggregate
    + whole-stage codegen with map-side combine (min over STRING falls back
    to Sort+SortAggregate — measured ~5x slower). Same value computable in
    ANSI SQL: CAST('0x' || substr(md5(..), 1, 15) AS BIGINT).
    """
    from ..functions.text import shingle_rows

    sh = shingle_rows(df, id_col, text_col, k)
    aggs = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(str(j)), F.col("s"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >=1 LSH band.

    Shuffle profile: one explode to (band, band_sig) keys, one self-join on
    the band key — the classic MinHashLSH layout. Band signatures
    concatenate rows/band minhashes.
    """
    rows = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k)
    sig_arr = F.array(
        *[
            F.md5(
                F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)])
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select("id", sig_arr.alias("sigs")).select(
        "id", "sigs", F.posexplode("sigs").alias("band", "sig")
    )
    # materialize once: the self-join would otherwise recompute the whole
    # shingle->minhash pipeline for BOTH sides
    buckets = buckets.localCheckpoint(eager=True)
    a = buckets.alias("a")
    b = buckets.alias("b")
    # first-band-wins: a multi-band pair is emitted only from the lowest
    # matching band, so no pair-set distinct() shuffle is needed (both
    # sides carry the full band-sig array; bands per row is small)
    first_match = (
        F.array_position(
            F.zip_with(F.col("a.sigs"), F.col("b.sigs"), lambda x, y: x == y),
            F.lit(True),
        )
        - 1
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(F.col("a.band") == first_match)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
    broadcast_index_rows: int = 8_000_000,
) -> DataFrame:
    """Exact Jaccard pairs >= threshold via inverted shingle index:
    explode distinct shingles -> self-join on shingle -> count intersections
    -> |A∪B| = |A|+|B|-|A∩B|. Returns (id_a, id_b, jaccard).
    Same exchange-free intersection-count shape as
    :func:`containment_pairs` (see its docstring)."""
    return _inverted_index_pairs(
        df, id_col, text_col, k, None, broadcast_index_rows,
        lambda inter: inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"),
        # conservative kernel prefilter (1e-6 slack covers round-half-up,
        # which raises by < 5e-7): a strict SUPERSET of the exact JVM
        # predicate above, which remains authoritative on the survivors
        np_prefilter=lambda i, na, nb: i / (na + nb - i) >= threshold - 1e-6,
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    max_df: int | None = None,
    broadcast_index_rows: int = 8_000_000,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment — Broder's second
    resemblance measure: ``containment(A in B) = |S(A) ∩ S(B)| / |S(A)|``.

    Jaccard misses the aggregator case: a 100-word doc copied verbatim
    into a 10,000-word page has tiny resemblance but containment ~1.0.
    Returns one row per unordered pair (id_a < id_b) where EITHER
    direction clears ``threshold``, with both directed ratios
    (containment_a = share of A's shingles found in B, containment_b
    symmetric), rounded to 6 places (cross-engine float pin).

    Scale shape: the same inverted shingle index as
    :func:`ngram_jaccard_pairs` (explode distinct shingles, equi-join on
    shingle, count, join per-doc sizes).  ``max_df`` drops shingles whose
    document frequency exceeds it from the index — the standard guard
    against ubiquitous-gram quadratic bucket joins at corpus scale
    (containment is then over the filtered shingle sets on BOTH the
    numerator and the denominators, a documented approximation; None =
    exact).

    Shuffle profile (round-6 restructure, guide §2.4/§3.1): the shingle
    index is hash-clustered by ``id`` ONCE; the local distinct, the
    per-doc sizes, and — when the index fits under
    ``broadcast_index_rows`` and the build side broadcasts — the
    intersection-count aggregate all reuse that clustering, so the
    O(sum df^2) candidate-pair stream (measured 114M rows at sf1.0 for
    50k docs) is counted entirely map-side and NEVER crosses an
    exchange.  Above the broadcast bound the join falls back to the
    shuffled inverted-index shape (both sides keyed on the shingle),
    which is the 100-TB path — pair it with ``max_df``.
    """
    return _inverted_index_pairs(
        df, id_col, text_col, k, max_df, broadcast_index_rows,
        lambda inter: inter.withColumn(
            "containment_a", F.round(F.col("inter") / F.col("na"), 6)
        )
        .withColumn("containment_b", F.round(F.col("inter") / F.col("nb"), 6))
        .where(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "containment_a", "containment_b"),
        # conservative kernel prefilter (1e-6 slack covers round-half-up,
        # which raises by < 5e-7): a strict SUPERSET of the exact JVM
        # predicate above, which remains authoritative on the survivors
        np_prefilter=lambda i, na, nb: (i / na >= threshold - 1e-6)
        | (i / nb >= threshold - 1e-6),
    )


def _count_pairs_arrow(it):
    """Per-partition exact intersection counter for the inverted-index
    self-join (guide §4.2: vectorized native code inside the Python
    boundary).  Input batches carry ONE packed int64 per candidate match
    (``id_a << 32 | id_b``, both ids verified to fit 31 bits by the
    caller); the probe side is hash-clustered by id_a, so every
    occurrence of a given (id_a, id_b) pair lands in THIS task and one
    per-task ``np.unique(return_counts=True)`` IS the exact global
    per-pair intersection count — no further aggregation exists in the
    plan.  Replaces a 114M-group double HashAggregate (measured at
    sf1.0) with one vectorized sort-count."""
    import numpy as np
    import pyarrow as pa

    chunks = [batch.column(0).to_numpy(zero_copy_only=False) for batch in it]
    if chunks:
        pk, cnt = np.unique(np.concatenate(chunks), return_counts=True)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(pk >> np.int64(32)),
                pa.array(pk & np.int64(0xFFFFFFFF)),
                pa.array(cnt.astype(np.int64)),
            ],
            ["id_a", "id_b", "inter"],
        )


def _inverted_index_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_df: int | None,
    broadcast_index_rows: int,
    finish,
    np_prefilter=None,
) -> DataFrame:
    """Shared inverted-shingle-index pair counting for
    :func:`containment_pairs` / :func:`ngram_jaccard_pairs`: distinct
    (id, s) index -> self-equi-join on s (id_a < id_b) -> per-pair
    intersection counts -> per-doc sizes attached as na/nb ->
    ``finish(inter)`` applies the measure + threshold.

    Shuffle/plan shape (round 6): shingle_rows clusters the index by id
    (its one exchange); distinct and the per-doc sizes are then
    exchange-free.  When the index fits under ``broadcast_index_rows``
    (the same bound that gated the former JVM broadcast join), the
    hashed index is collected once, sorted by hash, and broadcast as
    numpy arrays; the numpy probe kernel maps over the id-clustered
    index partitions themselves, enumerating matches with vectorized
    searchsorted + per-doc-group range expansion and counting each
    doc's pairs with a cache-resident small sort — no JVM candidate
    enumeration, no multi-million-row Arrow transfer, no global pair
    sort.  ``np_prefilter(inter, na, nb)``, when given, must be a
    conservative numpy SUPERSET of ``finish``'s predicate: it shrinks
    the emitted rows so the exact pinned JVM predicate (round-half-up
    on the joined sizes) decides on a few hundred survivors instead of
    millions of pairs.  Ids are proven to fit 31 bits and the hash
    proven injective by the driver-side stats job; any other shape
    falls back to the JVM join (packed-kernel or groupBy), and above
    the broadcast bound the shuffled inverted-index join remains the
    100-TB path.  The index is persisted for the duration of the call
    and the (small) result is materialized eagerly so the cache can be
    released before returning."""
    from ..functions.text import shingle_rows

    sh = shingle_rows(df, id_col, text_col, k).distinct()
    if max_df is not None:
        # hot-gram gate as a broadcast ANTI-join: grams with df > max_df
        # are rare by definition (<= n_rows/max_df of them), so the drop
        # list broadcasts and the id-clustering of the index survives
        hot = (
            sh.groupBy("s")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select("s")
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    # persist: the stats job below materializes the index once; the
    # sizes/build/probe consumers then read the cache instead of
    # recomputing shingles+distinct three times
    sh = sh.persist()
    # AQE bracket (round 6): the index-build jobs are bounded no matter
    # the corpus size — the one exchange is REPARTITION_BY_NUM (AQE-
    # exempt width), the distinct reuses its clustering, the stats/
    # sizes aggregates reduce to O(1)/O(docs) rows — yet AQE split each
    # into materialize + re-optimize sub-jobs (distinct+stats ran as 4
    # jobs where 2 suffice).  The kernel path keeps AQE off through its
    # final checkpoint; the shuffled fallback join below runs with the
    # session's AQE, where skew-join splitting matters at scale.
    spark = df.sparkSession
    aqe_off = {"spark.sql.adaptive.enabled": "false"}
    id_numeric = dict(df.dtypes).get(id_col, "") in (
        "tinyint", "smallint", "int", "bigint"
    )
    with scoped_conf(spark, aqe_off):
        # ONE stats job: pack bounds for the Arrow kernel AND an exact
        # injectivity guard for the hashed join key.  Probing the self-join
        # on xxhash64(s) (a long) instead of the shingle string halved the
        # enumeration stage at sf1.0 (guide §2.3 narrower types — the match
        # predicate only needs equality, not the bytes); it is only correct
        # when no two distinct shingles collide, so countDistinct(s) ==
        # countDistinct(xxhash64(s)) is verified on the driver and any
        # collision (p ~ n^2/2^65) falls back to the exact string join.
        if id_numeric:
            st = sh.agg(
                F.count("*").alias("n"),
                F.min("id").alias("lo"),
                F.max("id").alias("hi"),
                F.countDistinct("s").alias("ds"),
                F.countDistinct(F.xxhash64("s")).alias("dh"),
            ).collect()[0]
            n_index = st["n"]
            pack_ok = (
                n_index > 0 and st["lo"] >= 0 and st["hi"] < (1 << 31)
            )
            hash_ok = st["ds"] == st["dh"]
        else:
            st = sh.agg(
                F.count("*").alias("n"),
                F.countDistinct("s").alias("ds"),
                F.countDistinct(F.xxhash64("s")).alias("dh"),
            ).collect()[0]
            n_index = st["n"]
            pack_ok = False
            hash_ok = st["ds"] == st["dh"]
        sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
        hx = None
        bc_index = None
        do_broadcast = n_index <= broadcast_index_rows
        if hash_ok:
            # persist the hashed projection: probing the broadcast hash from a
            # cached LONG column measured ~2x faster than re-projecting the
            # cached string index inside the join stage
            hx = sh.select("id", F.xxhash64("s").alias("s")).persist()
            probe = hx
        else:
            probe = sh
        kernel = pack_ok and do_broadcast and hash_ok
        if kernel:
            # Round-6 numpy-probe kernel (guide §4.2): the JVM broadcast join
            # enumerated the O(sum df^2) candidate stream (259M rows at
            # sf1-scale, ~161 s CPU in one 7.6 s stage) and shipped 129.5M
            # packed rows through Arrow into the counting kernel.  Instead,
            # the (id, hash) index — already bounded by
            # ``broadcast_index_rows``, the exact same gate that bounded the
            # JVM broadcast build — is collected once, sorted by hash, and
            # broadcast as two numpy arrays; the kernel maps over the
            # id-clustered index partitions themselves (2.65M rows total,
            # not 129.5M) and enumerates matches with vectorized
            # searchsorted + range expansion.  The id-clustering invariant
            # is unchanged, so per-task np.unique still IS the exact global
            # per-pair count; above the broadcast bound the shuffled JVM
            # join below remains the 100-TB path.
            import numpy as np

            tbl = hx.toArrow()  # zero-copy into numpy (no pandas detour)
            h_np = tbl.column("s").to_numpy()
            # int64 whatever the id column's width: the kernel emits these
            # ids into "id_b long" (an int id column would otherwise ship
            # an int32 vector that the JVM reads with getLong)
            i_np = tbl.column("id").to_numpy().astype(np.int64, copy=False)
            order = np.argsort(h_np)
            # per-doc index sizes (sorted-id lookup table, robust to
            # sparse id spaces), computed once here instead of per task
            sid = np.sort(i_np)
            edge = np.flatnonzero(sid[1:] != sid[:-1]) + 1
            uid = sid[np.r_[0, edge]] if len(sid) else sid
            un = np.diff(np.r_[0, edge, len(sid)]) if len(sid) else sid
            bc_index = df.sparkSession.sparkContext.broadcast(
                (h_np[order], i_np[order], uid, un)
            )
            del tbl, h_np, i_np, order, sid, edge, uid, un
    if kernel:
        prefilter = np_prefilter

        def _probe_kernel(it):
            import numpy as np
            import pyarrow as pa

            hs, ids, uid, un = bc_index.value
            # buffer the partition (id-clustered: every row of each doc
            # id lands here, so a group's row count IS that doc's size)
            cols_a, cols_h = [], []
            for batch in it:
                cols_a.append(batch.column(0).to_numpy(zero_copy_only=False))
                cols_h.append(batch.column(1).to_numpy(zero_copy_only=False))
            if not cols_a:
                return
            ia = np.concatenate(cols_a).astype(np.int64, copy=False)
            ha = np.concatenate(cols_h)
            lo = np.searchsorted(hs, ha, side="left")
            cnt = np.searchsorted(hs, ha, side="right") - lo
            # group rows by doc id: ~1 group per local doc, so the pair
            # counting below runs as many CACHE-RESIDENT small sorts
            # instead of one multi-million-row global pair sort (the
            # global np.unique measured 2.6-6.5 s/task under 32-way
            # memory contention; the grouped form avoids it entirely)
            order = np.argsort(ia, kind="stable")
            ia_s = ia[order]
            bounds = np.flatnonzero(ia_s[1:] != ia_s[:-1]) + 1
            starts = np.r_[0, bounds]
            ends = np.r_[bounds, len(ia_s)]
            out_a, out_b, out_c = [], [], []
            for g0, g1 in zip(starts, ends):
                rows = order[g0:g1]
                a = int(ia_s[g0])
                na = g1 - g0
                r_lo = lo[rows]
                r_cnt = cnt[rows]
                tot = int(r_cnt.sum())
                if tot == 0:
                    continue
                st = np.cumsum(r_cnt) - r_cnt
                pos = (
                    np.arange(tot, dtype=np.int64)
                    - np.repeat(st, r_cnt)
                    + np.repeat(r_lo, r_cnt)
                )
                b = ids[pos]
                b = b[b > a]
                if len(b) == 0:
                    continue
                b.sort()
                edge = np.flatnonzero(b[1:] != b[:-1]) + 1
                ub = b[np.r_[0, edge]]
                inter_c = np.diff(np.r_[0, edge, len(b)])
                if prefilter is not None:
                    nb = un[np.searchsorted(uid, ub)]
                    keep = prefilter(inter_c, na, nb)
                    ub = ub[keep]
                    inter_c = inter_c[keep]
                if len(ub):
                    out_a.append(np.full(len(ub), a, dtype=np.int64))
                    out_b.append(ub)
                    out_c.append(inter_c.astype(np.int64))
            if out_a:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_a)),
                        pa.array(np.concatenate(out_b)),
                        pa.array(np.concatenate(out_c)),
                    ],
                    ["id_a", "id_b", "inter"],
                )

        inter = hx.mapInArrow(
            _probe_kernel, "id_a long, id_b long, inter long"
        )
    else:
        # shuffled/JVM fallback: the session's AQE is back — at scale its
        # skew-join split is what saves a hot-shingle self-join
        bside = probe.alias("b")
        if do_broadcast:
            bside = F.broadcast(bside)
        joined = probe.alias("a").join(
            bside,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        if pack_ok and do_broadcast:
            inter = joined.select(
                F.shiftleft(F.col("a.id"), 32)
                .bitwiseOR(F.col("b.id"))
                .alias("pk")
            ).mapInArrow(_count_pairs_arrow, "id_a long, id_b long, inter long")
        else:
            inter = joined.groupBy(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            ).agg(F.count("*").alias("inter"))
    inter = inter.join(
        F.broadcast(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na")
        ),
        "id_a",
    ).join(
        F.broadcast(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb")
        ),
        "id_b",
    )
    # the candidate stream is ONE packed int64 per row: the default 10k-row
    # Arrow batches cost ~13k per-batch round-trips at sf1.0 (measured
    # 8.0s -> 5.3s with 1M-row batches) (guide §4.2 batch sizing); the
    # kernel path's eager materialization still runs AQE-off
    final_conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": str(1 << 20)}
    if kernel:
        final_conf.update(aqe_off)
    with scoped_conf(spark, final_conf):
        out = finish(inter).localCheckpoint(eager=True)
    sh.unpersist()
    if hx is not None:
        hx.unpersist()
    if bc_index is not None:
        bc_index.unpersist()
    return out


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Bitwise-majority signature over token hashes.

    Token hash = first 8 hex chars of md5(token) (SQL-portable); bit b of
    the signature = majority vote of that bit across the doc's distinct
    tokens. Returns (id, simhash:long)."""
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    h = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"))
    sig = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.size(
            F.filter(h, lambda v: F.shiftright(v, b).bitwiseAND(F.lit(1)) == 1)
        )
        vote = (ones * 2 > F.size(h)).cast("long")
        sig = sig + F.shiftleft(vote, b)
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs by simhash Hamming distance <= max_hamming.

    Pigeonhole blocking: split the signature into `bands` bit-slices; two
    signatures within Hamming distance < bands must agree on at least one
    slice, so candidates come from equi-joins on (band, slice) — no O(n^2).
    Exact Hamming verify via bit_count(xor). Returns (id_a, id_b, hamming).
    """
    sigs = simhash(df, id_col, text_col, bits).localCheckpoint(eager=True)
    return hamming_pairs(sigs, "simhash", bits, max_hamming=max_hamming, bands=bands)


def hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    bits: int,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "id",
) -> DataFrame:
    """Pairs (id_a < id_b) of integer signatures within Hamming distance
    <= max_hamming, via pigeonhole band blocking (shared by text SimHash
    and image aHash dedup).

    Two signatures within Hamming distance < bands must agree on at least
    one of `bands` bit-slices, so candidates come from equi-joins on
    (band, slice) — never all-pairs; exact verify is bit_count(xor).
    First-band-wins emission (the earliest agreeing slice, recomputed from
    the joined signatures) removes the pair-set distinct() shuffle.
    Callers should checkpoint/persist `sigs` if it is expensive to
    recompute — it appears on both sides of the self-join.
    """
    assert max_hamming < bands, "pigeonhole needs max_hamming < bands"
    width = bits // bands
    sigs = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("_sig"))
    slices = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("_sig"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("slice"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select(
        "id", "_sig", F.explode(F.array(*slices)).alias("bs")
    ).select("id", "_sig", F.col("bs.band").alias("band"), F.col("bs.slice").alias("slice"))
    a, b = buckets.alias("a"), buckets.alias("b")
    mask = (1 << width) - 1
    slice_eq = F.array(
        *[
            F.shiftright(F.col("a._sig"), i * width).bitwiseAND(F.lit(mask))
            == F.shiftright(F.col("b._sig"), i * width).bitwiseAND(F.lit(mask))
            for i in range(bands)
        ]
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(F.col("a.band") == F.array_position(slice_eq, F.lit(True)) - 1)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a._sig").bitwiseXOR(F.col("b._sig"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Dedup GROUPS from a near-dup pair set: connected components by
    hash-min label propagation. Returns (id, component) where component =
    min id reachable — the canonical representative every member maps to.

    Scale shape: each iteration is one join + one min-aggregate, both on
    the (small) node/edge set emitted by the pair generators — O(diameter)
    iterations, diameter of near-dup clusters is tiny in practice. Labels
    are localCheckpointed per iteration so lineage stays O(1) (same shape
    as the crawl loop); convergence = zero labels changed. For adversarial
    long-chain graphs swap in large-star/small-star (same interface) —
    documented alternative, not needed for dup clusters."""
    spark = pairs.sparkSession
    a, b = F.col(id_a), F.col(id_b)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # candidate label per node = min(own, min over neighbors' labels)
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nlabel"), F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.where(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("component"))


def dedup_groups(
    df: DataFrame, pairs: DataFrame, id_col: str, max_iter: int = 50
) -> DataFrame:
    """Every document's canonical representative: docs in a near-dup
    component map to the component's min id; singletons map to themselves.
    Returns (id, keep_id, is_duplicate)."""
    comps = connected_components(pairs, max_iter=max_iter)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comps, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("keep_id"),
            (
                F.coalesce(F.col("component"), F.col("id")) != F.col("id")
            ).alias("is_duplicate"),
        )
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
    threshold: float = 0.95,
    approximate_when_unlabeled: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine >= threshold.

    Blocking: a coarse cluster column (label/IVF cell) is REQUIRED — only
    intra-block pairs are scored, which is the O(n^2) kill. Cosine is
    computed with higher-order fns in float64 (zip_with + aggregate), no
    Python.

    ``label_col=None`` is APPROXIMATE (round-3 advice: surfaced in the
    signature, not just prose): it delegates to :func:`srp_lsh_pairs`
    (random-hyperplane LSH), which returns a probabilistic *subset* of the
    >=threshold pairs — band misses are possible.  That is the correct
    unlabeled path at scale: a single-block self-join here would be a full
    cartesian — exactly the quadratic plan this module exists to prevent.
    Callers needing exact recall must either pass a blocking column, or
    pass ``approximate_when_unlabeled=False`` to get a loud error instead
    of a silent recall change (then add a constant label column if the
    input is provably tiny)."""
    if label_col is None:
        if not approximate_when_unlabeled:
            raise ValueError(
                "label_col=None without approximate_when_unlabeled=True would "
                "require an exact all-pairs cartesian; pass a blocking "
                "label_col for exact intra-block recall (a constant column "
                "on provably tiny inputs), or accept SRP-LSH approximation."
            )
        return srp_lsh_pairs(emb, id_col, vec_col, threshold=threshold)
    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col(label_col).alias("blk"),
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot / (norm(F.col("a.v")) * norm(F.col("b.v"))), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def srp_signature(vec: "F.Column", n_bits: int = 16, seed: int = 1) -> "F.Column":
    """Signed-random-projection signature: bit i = 1 iff dot(v, h_i) >= 0.

    Hyperplane weights are deterministic integer arithmetic —
    ``h_i[d] = ((i*2654435761 + d*40503 + seed) % 2001) - 1000`` — so the
    same signature is computable in ANSI SQL, and the dot products evaluate
    left-to-right in both engines (higher-order ``aggregate`` here,
    ``list_sum(list_transform(...))`` there): even a near-zero dot gets the
    same sign bit-for-bit.  ``vec`` must already be array<double>."""
    def dot_i(i):
        prods = F.transform(
            vec,
            lambda x, d: x
            * ((i * F.lit(2654435761) + d * F.lit(40503) + F.lit(seed)) % 2001 - 1000)
            .cast("double"),
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bits - 1)),
        lambda i: F.when(dot_i(i) >= 0, F.lit(1)).otherwise(F.lit(0)),
    )


def srp_lsh_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    seed: int = 1,
) -> DataFrame:
    """Embedding near-dup WITHOUT a label/IVF blocking column: random-
    hyperplane (SRP) LSH — the embedding-space analogue of the minhash
    band join (same shuffle profile: one band explode, one equi self-join,
    first-band-wins emission, exact cosine verify on survivors).

    Collision probability per bit is 1 - angle/pi, so banding r bits keeps
    only small-angle (high-cosine) candidates — candidates stay
    O(n * dup_rate), never all-pairs; at 10^10 rows the band key is the
    shuffle/bucket key exactly like minhash_lsh_pairs."""
    r = n_bits // bands
    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).select("id", "v", srp_signature(F.col("v"), n_bits, seed).alias("bits"))
    band_arr = F.array(
        *[
            F.concat_ws(
                "", *[F.element_at(F.col("bits"), b * r + j + 1).cast("string") for j in range(r)]
            )
            for b in range(bands)
        ]
    )
    buckets = (
        v.select("id", "v", band_arr.alias("sigs"))
        .select("id", "v", "sigs", F.posexplode("sigs").alias("band", "sig"))
        .localCheckpoint(eager=True)  # don't recompute signatures per side
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    first_match = (
        F.array_position(
            F.zip_with(F.col("a.sigs"), F.col("b.sigs"), lambda x, y: x == y),
            F.lit(True),
        )
        - 1
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(F.col("a.band") == first_match)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot / (norm(F.col("a.v")) * norm(F.col("b.v"))), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def lsh_bucket_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band, sig) — the persistable MinHash-LSH index rows for a
    corpus.  Written once to a bucketed table (bucket by sig), this is
    the state an INCREMENTAL dedup pipeline keeps between crawl batches
    so arriving documents never re-shingle the historical corpus."""
    rows = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k)
    sig_arr = F.array(
        *[
            F.md5(
                F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)])
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.posexplode(sig_arr).alias("band", "sig"))


def lsh_match_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Incremental near-dup candidates: each NEW document against a
    stored LSH index (``lsh_bucket_table`` rows from prior batches).

    Returns (new_id, index_id, band) where band is the LOWEST band the
    pair collides in — the multi-band dedup is a min-aggregate (one
    map-side-combined groupBy on the pair key), never a distinct over
    emitted pairs.  Self-matches (same id in both sides) are dropped.

    Scale shape (the incremental story): per batch, only the new
    documents shingle and hash — cost O(batch), not O(corpus); the join
    probes the index on (band, sig), which a sig-bucketed stored table
    turns into a shuffle of the BATCH side only.  Band-key hot spots are
    bounded exactly as in minhash_lsh_pairs (a bucket holds near-dups of
    one another, and the index side can cap bucket size upstream)."""
    new_buckets = lsh_bucket_table(new_df, id_col, text_col, num_hashes, bands, k)
    return lsh_probe(new_buckets, index)


def lsh_probe(new_buckets: DataFrame, index: DataFrame) -> DataFrame:
    """The probe join of ``lsh_match_against_index`` over ALREADY-built
    bucket rows — exposed so a streaming maintainer that must also
    append the batch's buckets to the index computes them exactly once.
    Returns (new_id, index_id, band=min colliding band)."""
    return (
        new_buckets.alias("n")
        .join(
            index.alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.sig") == F.col("i.sig"))
            & (F.col("n.id") != F.col("i.id")),
        )
        .groupBy(
            F.col("n.id").alias("new_id"), F.col("i.id").alias("index_id")
        )
        .agg(F.min(F.col("n.band")).alias("band"))
    )


def select_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    metric_col: str,
    max_iter: int = 50,
) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the document with the HIGHEST ``metric_col`` (ties: lowest id)
    instead of dedup_groups' lowest-id convention — the curation step
    that keeps the best-extracted copy of a template-family page.

    Exact semantics (pinned): clusters are connected components of the
    pair set; rep = argmax(metric, tie min id); singletons represent
    themselves.  Returns (id, rep_id, is_duplicate).

    Scale shape: connected_components' O(diameter) label propagation on
    the pair set only, then ONE window pass partitioned by component
    (rank by metric desc, id asc — id-TYPE AGNOSTIC, so string/URL doc
    ids work; a numeric-only max(struct(metric, -id)) trick would crash
    or NULL-out on strings under ANSI) and one uniform join to map
    members to their rep."""
    from pyspark.sql.window import Window as _W

    comps = connected_components(pairs, max_iter=max_iter)
    members = (
        df.select(F.col(id_col).alias("id"), F.col(metric_col).alias("_m"))
        .join(comps, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
            "_m",
        )
    )
    w = _W.partitionBy("component").orderBy(F.col("_m").desc(), F.col("id").asc())
    reps = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("component", F.col("id").alias("rep_id"))
    )
    return members.join(reps, "component").select(
        "id",
        "rep_id",
        (F.col("id") != F.col("rep_id")).alias("is_duplicate"),
    )


def jaccard_histogram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    buckets: int = 10,
) -> DataFrame:
    """Pairwise-similarity histogram — the dedup-threshold CALIBRATION
    step: before committing a near-dup cutoff (q14/q15's threshold),
    curation looks at the distribution of exact shingle-Jaccard over all
    overlapping pairs; a bimodal histogram (noise floor vs true near-dup
    mass) picks the valley as the threshold.

    Pinned semantics (integer-only, engine-exact): over all pairs with
    >= 1 shared distinct k-shingle, ``bucket = (buckets * inter) div
    union`` — so bucket b (0-based) covers J in [b/buckets, (b+1)/
    buckets), with exact duplicates (J = 1.0) landing in bucket
    ``buckets`` of their own.  Returns (bucket, n_pairs), only non-empty
    buckets.  No float Jaccard ever forms — no rounding-tie fragility at
    bucket edges.

    Scale shape: identical to :func:`ngram_jaccard_pairs` (one distinct
    shingle compaction, the inverted-index self-join, map-side-combined
    pair counts) with the final histogram a second tiny map-side
    aggregate; callers at web scale pre-prune hot shingles exactly as
    q15 does (df-prune) before calibrating.
    """
    from ..functions.text import shingle_rows

    sh = (
        shingle_rows(df, id_col, text_col, k)
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("inter"))
    )
    b = int(buckets)
    return (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"),
            "id_b",
        )
        .select(
            F.expr(f"({b} * inter) div (na + nb - inter)")
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Prefix-filtered exact Jaccard pair join — the PPJoin/AllPairs
    candidate-pruning family (Chaudhuri et al. SSJoin ICDE'06, Bayardo et
    al. WWW'07, Xiao et al. WWW'08, all public), the scale path of
    :func:`ngram_jaccard_pairs` for HIGH thresholds.

    Theorem (prefix filter): order every record's distinct shingles by
    one global canonical order (document frequency asc, shingle asc —
    rarest first, the published candidate-minimizing order); for Jaccard
    >= t a record's PREFIX is its first ``n - ceil(t*n) + 1`` shingles,
    and any qualifying pair must share at least one prefix shingle.  The
    inverted index therefore indexes only prefixes: at t=0.7 that is
    ~30% of the corpus shingle volume and the join fan-out shrinks
    quadratically on hot shingles vs q15's full-index self-join.  A
    length filter (``ceil(t*na) <= nb <= floor(na/t)``) prunes candidates
    before verification.

    Verification is exact and per-pair: each doc's full sorted shingle
    array travels once (page-bounded), ``array_intersect`` sizes the
    overlap JVM-side — never a second corpus-wide shuffle.  Output and
    semantics are IDENTICAL to ngram_jaccard_pairs(threshold, k):
    (id_a, id_b, jaccard rounded 6) — pinned by test equality on random
    corpora and by the same exact-SQL oracle.
    """
    from ..functions.text import shingle_rows

    t = float(threshold)
    # Filter threshold relaxed by the rounding band: the final compare is
    # round(j, 6) >= t (ngram_jaccard_pairs' pinned form), which admits
    # true j down to t - 5e-7 — but the prefix/length theorems prune by
    # TRUE j >= threshold only.  Pruning at t - 1e-6 keeps every pair the
    # rounded compare can emit, so output equality holds even for
    # million-shingle records sitting exactly on the boundary.
    tf = max(0.0, t - 1e-6)
    sh = (
        shingle_rows(df, id_col, text_col, k)
        .distinct()
        .localCheckpoint(eager=True)
    )
    dfreq = sh.groupBy("s").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("id").orderBy(F.asc("_df"), F.asc("s"))
    wn = Window.partitionBy("id")
    ranked = (
        sh.join(dfreq, "s")
        .select(
            "id",
            "s",
            F.row_number().over(w).alias("_pos"),
            F.count("*").over(wn).alias("n"),
        )
    )
    prefix = ranked.where(
        F.col("_pos") <= F.col("n") - F.ceil(F.lit(tf) * F.col("n")) + 1
    ).select("id", "s", "n")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.n") >= F.ceil(F.lit(tf) * F.col("a.n")))
            & (F.col("b.n") <= F.floor(F.col("a.n") / F.lit(max(tf, 1e-12)))),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    arrs = sh.groupBy("id").agg(F.array_sort(F.collect_list("s")).alias("arr"))
    verified = (
        cand.join(arrs.withColumnRenamed("id", "id_a").withColumnRenamed("arr", "arr_a"), "id_a")
        .join(arrs.withColumnRenamed("id", "id_b").withColumnRenamed("arr", "arr_b"), "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= t)
    )
    return verified.select("id_a", "id_b", "jaccard")


def winnow_selected(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): over the document's token k-gram
    hash sequence, every window of ``w`` consecutive grams selects its
    MINIMUM hash, ties to the RIGHTMOST occurrence (the paper's rule);
    the distinct selected (position, hash) set is the fingerprint.  The
    guarantee the other dedup family members lack: any shared run of at
    least ``w + k - 1`` tokens is caught (minhash/simhash are
    whole-document probabilistic; winnowing is local and certain), with
    expected density 2/(w+1).

    Pinned cross-engine contract: gram hash = 32-bit md5 prefix
    (``conv(substr(md5(gram),1,8))``), and each window's rightmost-min is
    ONE integer ``min`` over the packed key ``h * 2^20 + (2^20-1-pos)``
    (smaller h wins; equal h -> larger pos wins) — no struct ordering,
    no nested windows, identical in Spark and DuckDB.  Positions are
    gram indexes 0..G-1 and must stay below 2^20 (a ~1M-token document;
    the key would collide past it — documented cap, not a silent wrap).
    Documents with fewer than ``w`` grams winnow a single window over
    whatever grams exist; documents shorter than ``k`` tokens contribute
    their whole text as one gram (the ``shingles`` short-doc rule).

    Returns (id, pos, h) — one row per selected fingerprint.

    Scale shape: ONE exchange — posexplode tokens, then the gram-concat
    lead window, the packed-key frame min, and the start-row filter all
    ride the same (id)-hash partitioning (Catalyst reuses the exchange);
    the final distinct groups on the same key family.  No join, no
    Python, per-doc work O(G*w) inside the frame min."""
    from pyspark.sql.window import Window as W

    from ..functions.text import tokens

    POS = 1 << 20
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    # short docs: the whole text is the single gram -> selected at pos 0
    short = base.where(F.size("_toks") < k).select(
        "id",
        F.lit(0).cast("long").alias("pos"),
        F.conv(
            F.substring(F.md5(F.concat_ws(" ", "_toks")), 1, 8), 16, 10
        ).cast("long").alias("h"),
    )
    tok = base.where(F.size("_toks") >= k).select(
        "id", F.posexplode("_toks").alias("pos", "t")
    )
    ord_w = W.partitionBy("id").orderBy("pos")
    leads = [F.lead("t", i).over(ord_w) for i in range(1, k)]
    grams = (
        tok.select(
            "id",
            F.col("pos").cast("long").alias("pos"),
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.col("t"), *leads)), 1, 8
                ),
                16,
                10,
            ).cast("long").alias("h"),
            leads[-1].alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .drop("_last")
    )
    key = (F.col("h") * POS + (POS - 1 - F.col("pos"))).alias("_key")
    frame = W.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    g_cnt = F.count("*").over(W.partitionBy("id"))
    picked = (
        grams.select("id", "pos", key)
        .select(
            "id",
            "pos",
            F.min("_key").over(frame).alias("_sel"),
            g_cnt.alias("_g"),
        )
        # full windows only (plus the single short-doc window at pos 0)
        .where(F.col("pos") <= F.greatest(F.col("_g") - w, F.lit(0)))
        .select(
            "id",
            (F.lit(POS - 1) - F.col("_sel") % POS).cast("long").alias("pos"),
            F.expr(f"_sel div {POS}").cast("long").alias("h"),
        )
        .distinct()
    )
    return picked.unionByName(short)


def winnow_profile(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Per-document winnowing fingerprint profile: (id, n_selected,
    checksum, max_pos) with checksum = sum(h * (pos + 1)) — position-
    weighted (house rule from image checksums: a plain sum is
    permutation-invariant, so a wrong tie-break would still pass it).
    One map-side-combined rollup over :func:`winnow_selected`."""
    sel = winnow_selected(df, id_col, text_col, k=k, w=w)
    return sel.groupBy("id").agg(
        F.count("*").cast("long").alias("n_selected"),
        F.sum(F.col("h") * (F.col("pos") + 1)).cast("long").alias("checksum"),
        F.max("pos").cast("long").alias("max_pos"),
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    max_df: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """MOSS-style match detection over winnowing fingerprints: candidate
    pairs are documents sharing selected gram hashes (the inverted-index
    self-join the MOSS service runs; Schleimer et al. SIGMOD 2003 §5).
    Fingerprints selected in more than ``max_df`` documents are dropped
    BEFORE the join — the paper's too-common-substring suppression, and
    the skew guard: a boilerplate gram shared by 10^6 docs would
    otherwise explode into 10^12 pairs, while capped df bounds every
    hash bucket's fan-out at max_df^2.  Pairs report the number of
    DISTINCT shared hashes; ``min_shared`` prunes one-off collisions.

    Returns (id_a, id_b, n_shared) with id_a < id_b.

    Scale shape: winnow_selected's single (id)-exchange, one map-side-
    combined df count + hash join back (the filter side is (hash, df) —
    tiny), then the equi self-join on the hash key and ONE
    map-side-combined pair count.  The same first-band-wins shape as the
    minhash LSH join; no window over pairs, no Python."""
    sel = winnow_selected(df, id_col, text_col, k=k, w=w).select(
        "id", "h"
    ).distinct()
    df_counts = sel.groupBy("h").agg(F.count("*").alias("_df"))
    kept = sel.join(
        df_counts.where(F.col("_df") <= max_df).select("h"), "h"
    )
    a = kept.select(F.col("id").alias("id_a"), "h")
    b = kept.select(F.col("id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


SPOTSIG_ANTECEDENTS = ["the", "a", "an", "is", "was", "it", "there"]
# Theobald et al.'s best-performing antecedent class (SIGIR'08 §5.2:
# stopword antecedents beat POS/DF-based ones); pinned.


def spotsig_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chain_len: int = 2,
    antecedents: list[str] | None = None,
) -> DataFrame:
    """(id, sig) DISTINCT spot signatures per document (Theobald,
    Siddharth & Paepcke, "SpotSigs: robust and efficient near duplicate
    detection in large web crawls", SIGIR 2008).  A spot signature is a
    stopword ANTECEDENT plus the chain of the next ``chain_len``
    non-stopword tokens — stopwords anchor to natural-language sentence
    flow, so boilerplate (nav bars, link lists — mostly content words)
    contributes almost no signatures and the comparison keys on the
    article text that matters.  Chains shorter than ``chain_len``
    (anchor too close to the end) are DROPPED (pin).

    Scale shape: one explode + one per-doc cumulative window (non-stop
    rank) + one equi-join of the chain_len-exploded anchors against the
    non-stop tokens on (id, rank) + one group to assemble — all keys
    include the doc id, so nothing skews."""
    from .lm_score import TOKEN_SPLIT

    ants = antecedents if antecedents is not None else SPOTSIG_ANTECEDENTS
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
                lambda t: t != F.lit(""),
            )
        ).alias("pos", "w"),
    ).withColumn("is_stop", F.col("w").isin(*ants))
    w_cum = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = toks.withColumn(
        "ns_cum", F.sum((~F.col("is_stop")).cast("long")).over(w_cum)
    ).localCheckpoint()
    anchors = ranked.where(F.col("is_stop")).select(
        "id",
        F.col("pos").alias("apos"),
        F.col("w").alias("anchor"),
        F.explode(
            F.sequence(F.col("ns_cum") + 1, F.col("ns_cum") + chain_len)
        ).alias("want"),
    )
    nonstop = ranked.where(~F.col("is_stop")).select(
        "id", F.col("ns_cum").alias("want"), F.col("w").alias("cw")
    )
    chains = (
        anchors.join(nonstop, ["id", "want"])
        .groupBy("id", "apos", "anchor")
        .agg(
            F.count("*").alias("_n"),
            F.concat_ws(
                ":",
                F.col("anchor"),
                F.concat_ws(
                    ":",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("want", "cw"))),
                        lambda s: s["cw"],
                    ),
                ),
            ).alias("sig"),
        )
        .where(F.col("_n") == chain_len)
    )
    return chains.select("id", "sig").distinct()


def spotsig_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    chain_len: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact-Jaccard near-duplicate pairs over SpotSigs signature sets —
    the boilerplate-blind dedup family (SIGIR 2008), complementing
    MinHash/SimHash (whole-text) and q58's line dedup (boilerplate
    REMOVAL): two news pages with identical articles but different nav
    chrome score near 1.0 here while whole-text Jaccard dilutes.

    Same inverted-index exact-intersection shape as
    :func:`ngram_jaccard_pairs`; ``max_df`` (pinned contract, like the
    q219 MOSS cap) drops signatures occurring in more than max_df docs
    BEFORE the self-join — a ubiquitous template signature would
    otherwise fan out quadratically through one reducer.  Jaccard uses
    the PRE-CAP signature-set sizes (caps prune candidate generation,
    not the measure).  Returns (id_a, id_b, jaccard >= threshold)."""
    sigs = spotsig_rows(df, id_col, text_col, chain_len).localCheckpoint()
    sizes = sigs.groupBy("id").agg(F.count("*").alias("n"))
    joinable = sigs
    if max_df is not None:
        rare = (
            sigs.groupBy("sig")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("sig")
        )
        joinable = sigs.join(rare, "sig")
    inter = (
        joinable.alias("a")
        .join(
            joinable.alias("b"),
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def supershingle_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    group_size: int = 2,
    k: int = 3,
    min_shared: int = 2,
    bucket_cap: int = 50,
) -> DataFrame:
    """Broder super-shingle near-dup candidates (Broder, Glassman,
    Manasse & Zweig, WWW 1997 "Syntactic clustering of the Web"; Broder
    SEQUENCES 1997): hash consecutive GROUPS of the minhash sketch into
    super-shingles, bucket documents by exact (group, super-shingle)
    equality, and keep pairs sharing at least ``min_shared`` groups —
    the paper's "2 of 6" rule with 6 groups of 2 from a 12-hash sketch.

    The point vs :func:`minhash_lsh_pairs`: LSH banding estimates
    Jaccard from band collisions and re-verifies; super-shingling is
    Broder's cheaper cluster-first shape — identity on a group of
    minhashes is already a high-precision signal, so the candidate set
    is tiny and needs no signature re-comparison.  Complements SpotSigs
    (boilerplate-blind) and winnowing (positional).

    Pinned semantics: minhashes are the q13 contract (60-bit md5
    prefixes under the ``j:shingle`` keying); super-shingle g =
    60-bit md5 prefix of ``'ss:' || g || ':' || mh_{g*gs} || ':' ||
    ... `` (decimal renderings joined by ':'); buckets with more than
    ``bucket_cap`` members are dropped BEFORE the self-join (pinned
    contract, the q219/q246 hot-bucket discipline — a boilerplate
    bucket of 10^6 docs would emit 5*10^11 pairs through one reducer);
    output pairs ordered (id_a, id_b) with the shared-group count.

    Scale shape (100 TB): sketching is the q13 map-side-combined
    explode; super-shingles are a pure projection off the sketch table;
    the bucket histogram is one groupBy on (g, ss); the self-join fans
    out at most bucket_cap^2/2 pairs per bucket.  No Python anywhere.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k)
    n_groups = num_hashes // group_size
    ss_cols = []
    for g in range(n_groups):
        parts = [F.lit("ss"), F.lit(str(g))] + [
            F.col(f"mh{g * group_size + r}").cast("string")
            for r in range(group_size)
        ]
        ss_cols.append(
            F.struct(
                F.lit(g).cast("int").alias("g"),
                F.conv(
                    F.substring(F.md5(F.concat_ws(":", *parts)), 1, 15),
                    16,
                    10,
                )
                .cast("long")
                .alias("ss"),
            )
        )
    member = sig.select(
        F.col("id"), F.explode(F.array(*ss_cols)).alias("e")
    ).select("id", F.col("e.g").alias("g"), F.col("e.ss").alias("ss"))
    sizes = member.groupBy("g", "ss").agg(F.count("*").alias("bn"))
    kept = member.join(
        sizes.where(
            (F.col("bn") >= 2) & (F.col("bn") <= bucket_cap)
        ).select("g", "ss"),
        ["g", "ss"],
    )
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.ss") == F.col("b.ss"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count("*").cast("long").alias("shared"))
        .where(F.col("shared") >= min_shared)
        .orderBy("id_a", "id_b")
    )
