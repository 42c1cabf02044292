"""Deduplication operators — exact and near-duplicate (SURVEY §2.9 X1/X2).

Driver-mandated extensions beyond the reference surface (the reference's
only dedup is keyed last-write-wins, K1): the operators a large-scale
training-data pipeline runs over a ``documents`` table.

Portability invariant: every hash here is **md5 over explicit strings**
(seeded by concatenation), so a DuckDB oracle reproduces byte-identical
signatures — no engine-private hash functions.

Scale design:
- shingling/minhashing is explode → ONE hash aggregate with k ``min``
  columns. The min runs over LONGs (first 60 bits of the md5), not hex
  strings: Spark's HashAggregate needs mutable fixed-width buffer types,
  so string mins silently fall back to SortAggregate — a per-group sort
  of the whole shingle set. Long mins keep the map-side partial-agg hash
  path (verified via ``.explain``: HashAggregate, one shuffle on doc id).
- LSH banding does NOT self-join: group by (band, signature), collect
  the id list per bucket, emit in-array pairs. A self-join would run the
  whole shingle→minhash pipeline twice (exchange reuse dies once AQE
  broadcast-converts one side); the group-by form computes it once. The
  shuffle key is the band signature, uniformly distributed by
  construction; giant buckets (boilerplate clusters) cost O(k²) pairs in
  either formulation — that's inherent to LSH, so
  :func:`lsh_candidate_pairs` puts a ceiling on bucket width
  (``max_bucket_size``): at 100 TB a single 1M-doc boilerplate bucket
  is 5·10¹¹ pairs, enough to take down the stage. Oversized buckets
  are near-identical boilerplate whose members the cheap exact/
  fingerprint dedup (X1/X5) already collapses; dropping them from the
  PAIR expansion loses no real near-dup signal. The oracles model the
  same ceiling, and passing ``stats`` reports dropped
  bucket/id/pair counts (opt-in — it costs one extra job).
- exact jaccard runs only on LSH candidate pairs, never all-pairs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """X1 — exact dedup by content hash: one representative (min id) per
    distinct content; adds ``dup_count``. Single hash aggregate."""
    fingerprint = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    return (
        df.withColumn("__fp", fingerprint)
        .groupBy("__fp")
        .agg(
            F.min(F.col(id_col)).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .withColumnRenamed("__fp", "content_hash")
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: ``(id, shingle)``
    as strings (readable variant; the scale pipeline uses
    :func:`hashed_word_shingles`).

    Short documents (< n words) contribute their whole text as one
    shingle so they still participate in similarity."""
    words = F.split(F.col(text_col), " ")
    count = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), count)
    shingle = F.transform(
        idx, lambda i: F.array_join(F.slice(words, i, n), " ")
    )
    return (
        df.select(F.col(id_col), F.explode(shingle).alias("shingle"))
        .distinct()
    )


# Rolling-polynomial combiner for hashed shingles: each word hash is 28
# bits, the rolling step is ((acc * P) + wh) % M with M a 31-bit Mersenne
# prime — acc*P < 2^31+20 bits < 2^52, no int64 overflow, byte-identical
# in any 64-bit-integer engine.
_SHINGLE_P = 1000003
_SHINGLE_M = 2147483647  # 2^31 - 1


def hashed_word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per document as LONG hashes:
    ``(id, shingle: long)`` — no shingle strings are ever materialized.

    Each word is md5-hashed once (28-bit base), an n-gram's hash is the
    rolling polynomial over its word hashes. Versus the string variant
    this removes the per-shingle slice+join string construction and
    makes the distinct and every downstream join/group key a fixed-width
    long — the difference between shuffling strings and shuffling longs
    at 100 TB. Jaccard over hashed shingle sets equals string-set
    Jaccard up to hash collisions (~2^-28 per word pair).

    ``distinct=False`` skips the per-document dedup — the (id, shingle)
    distinct is a full-corpus shuffle, and consumers that only test
    shingle MEMBERSHIP (the decontamination semi-join) are unchanged by
    duplicates, so they keep the explode map-side.

    Missing trailing words in short documents hash as 0 (both engines).
    """
    words = F.split(F.col(text_col), " ")
    word_hashes = F.transform(words, lambda w: _base_hash(w))

    def shingle_hash(i):
        acc = F.coalesce(F.try_element_at(F.col("__wh"), i), F.lit(0))
        for k in range(1, n):
            nxt = F.coalesce(F.try_element_at(F.col("__wh"), i + F.lit(k)), F.lit(0))
            acc = (acc * F.lit(_SHINGLE_P) + nxt) % F.lit(_SHINGLE_M)
        return acc

    hashed = df.select(F.col(id_col), word_hashes.alias("__wh"))
    count = F.greatest(F.size(F.col("__wh")) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), count)
    out = hashed.select(
        F.col(id_col),
        F.explode(F.transform(idx, shingle_hash)).alias("shingle"),
    )
    return out.distinct() if distinct else out


def _md5_long(col) -> F.Column:
    """First 60 bits of md5 as a non-negative long (portable: DuckDB's
    ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` is byte-identical)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Universal-hash family for the minhash permutations: h_i(x) = (a_i·x + b_i)
# mod p over a 31-bit Mersenne prime. The base x is 28 bits (7 md5 nibbles)
# so a_i·x stays < 2^59 — no int64 overflow, byte-identical in any engine
# with 64-bit integer arithmetic. Constants are fixed odd multipliers
# (any a_i ≢ 0 mod p gives a proper permutation of Z_p).
_MINHASH_PRIME = 2147483647  # 2^31 - 1
_MINHASH_A = [2 * i + 1 for i in range(1, 65)]  # 3, 5, 7, ... odd
_MINHASH_B = [i * i + 1 for i in range(1, 65)]  # 2, 5, 10, ...


def _check_num_hashes(num_hashes: int) -> None:
    """The affine permutation family is a FIXED 64-entry table (both
    engines must agree on it for the oracles); asking for more raised a
    bare IndexError at plan time (r11 review catch)."""
    if not 1 <= num_hashes <= len(_MINHASH_A):
        raise ValueError(
            f"num_hashes must be in [1, {len(_MINHASH_A)}] (the pinned "
            f"permutation table), got {num_hashes}"
        )


def _base_hash(col) -> F.Column:
    """28-bit base hash: first 7 md5 nibbles as a long."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def minhash_signatures(
    shingle_df: DataFrame,
    id_col: str,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per document: ``num_hashes`` permutations from
    ONE md5 base hash via affine universal hashing (columns
    ``h0..h{k-1}``, LongType).

    One md5 + k multiply-adds per shingle instead of k seeded md5s —
    the md5 is the dominant per-row cost, so the signature stage is ~k×
    cheaper. Long mins keep the aggregate on Spark's HashAggregate fast
    path (map-side partial mins, one shuffle on the doc id).
    """
    # pre-hashed (long) shingles feed the affine family directly; string
    # shingles get a base md5 first — materialized as a column so the
    # md5 runs once per row (16 inline copies would rely on codegen CSE)
    _check_num_hashes(num_hashes)
    if dict(shingle_df.dtypes).get("shingle") == "bigint":
        hashed = shingle_df.withColumn("__h", F.col("shingle"))
    else:
        hashed = shingle_df.withColumn("__h", _base_hash(F.col("shingle")))
    aggs = [
        F.min(
            (F.col("__h") * F.lit(_MINHASH_A[i]) + F.lit(_MINHASH_B[i]))
            % F.lit(_MINHASH_PRIME)
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _band_buckets(
    sig_df: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id, band, sig)`` bucket rows from a signature frame: the
    signature splits into ``bands`` row-groups, each md5-compressed into
    one bucket key. Shared by the batch pair expansion and the
    incremental index path."""
    if bands < 1 or bands > num_hashes or num_hashes % bands:
        # silent misconfiguration is the worst failure mode here (r11
        # review catch): bands > num_hashes made every band signature
        # the constant md5('') — all docs in ONE bucket, which the
        # heavy-bucket ceiling then silently DROPS, disabling dedup;
        # a non-dividing bands silently ignored trailing hash columns
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        # ':' separator disambiguates decimal concatenations (1,23 vs 12,3)
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(":", *parts)).alias("sig"))
        )
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))


def lsh_index(
    sig_df: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """The persistable LSH INDEX for a signature frame: ``(id, band,
    sig)`` bucket rows. Write it once for the historical corpus (ideally
    ``partitionBy("band")`` + sorted by ``sig`` so incremental lookups
    prune partitions and skip row groups), then dedup each new crawl
    batch against it with :func:`incremental_lsh_pairs` and append the
    batch's own rows — no recompute of the corpus, ever."""
    return _band_buckets(sig_df, id_col, num_hashes, bands)


def compact_index(
    spark,
    index_dir: str,
    id_col: str,
    *,
    min_batch_id: int | None = None,
    files_per_band: int = 1,
    n_bands: int | None = None,
    stats: dict | None = None,
    writer_id: str | None = None,
    schema: str | None = None,
) -> None:
    """Rewrite a persisted LSH index directory compactly: merge the
    per-append small files into ``files_per_band`` sig-sorted files per
    band partition, dedup retried-append rows, and (optionally) evict
    entries whose ``batch_id`` predates ``min_batch_id``.

    The append-only posture of :func:`lsh_index` +
    ``streaming/neardup.py`` accretes one file set per micro-batch —
    after thousands of batches the lookup-side scan pays a
    footer-open per tiny file and the bucket pruning degrades. This is
    the standard log-structured answer: periodically fold the log.
    Admit/drop decisions are UNCHANGED by compaction (pinned in
    tests): bucket membership is a set, and the rewrite only merges /
    dedups rows (eviction, when requested, is an explicit TTL policy
    choice — an evicted doc can near-dup-admit again by design).

    TTL semantics: rows carry ``batch_id`` (stamped by the streaming
    gate since round 6); rows from older index versions without the
    column have unknown age and are KEPT — conservative, since
    evicting them would silently re-open the corpus to their
    duplicates.

    Crash-safe, not atomic: the rewrite lands in a sibling temp dir and
    replaces the index with :func:`fsutil.replace_dir`'s backup-rename
    swap, so after a crash the index reads (via ``recover_dir``) as the
    old or the compacted generation, never as missing. The streaming
    gate invokes it synchronously inside ``foreachBatch``
    (``compact_every``), so micro-batch ordering provides exclusion;
    any other caller must pause readers for the swap.

    Scale shape: one scan of the index, one shuffle sized to the output
    file count, one write — cost ∝ index size, amortized over
    ``compact_every`` batches. At ``files_per_band == 1`` (the default)
    the shuffle is a HASH repartition on ``band`` — no range-boundary
    sampling job, and since ``partitionBy`` splits by value at write
    time the layout is identical: one sig-sorted file per band (r12,
    VERDICT r11 ask #1). ``files_per_band > 1`` genuinely needs sig
    range boundaries and keeps ``repartitionByRange``. Sig-sorted files
    give tight parquet min-max row groups so incremental lookups skip,
    restoring the layout :func:`lsh_index` documents.

    ``schema``: callers that own the index layout (the streaming gate,
    any :func:`lsh_index` writer) should pass its DDL — the read then
    skips the ``mergeSchema`` all-footers job (O(files) — the thing
    compaction exists to bound) and parquet fills a missing
    ``batch_id`` with nulls, which is exactly the conservative
    unknown-age semantics below (r12). ``None`` keeps the mergeSchema
    read for indexes of unknown provenance.
    """
    from wwwision_importservice_spark.fsutil import claim_writer, recover_dir

    # single-writer guard, same protocol as every other persisted-state
    # writer (r11 review catch: the backup-rename swap below assumes
    # exclusion — compacting a dir a streaming gate has claimed must be
    # a loud error unless the caller proves ownership by passing that
    # gate's writer_id; claim_writer(None) raises on any claimed dir)
    claim_writer(spark, index_dir, writer_id)
    # self-heal an interrupted earlier swap so direct callers (not just
    # the streaming gate, which probes recover_dir itself) never read a
    # mid-swap-missing index as an empty corpus
    recover_dir(spark, index_dir)
    if schema is not None:
        idx = spark.read.schema(schema).parquet(index_dir)
    else:
        idx = spark.read.option("mergeSchema", "true").parquet(index_dir)
    has_age = "batch_id" in idx.columns
    if stats is not None:
        from wwwision_importservice_spark.fsutil import list_data_files

        stats["files_before"] = len(list_data_files(spark, index_dir))
        stats["rows_before"] = idx.count()
    if min_batch_id is not None and has_age:
        idx = idx.filter(
            F.col("batch_id").isNull() | (F.col("batch_id") >= min_batch_id)
        )
    group = [id_col, "band", "sig"]
    if has_age:
        # a retried append can duplicate a row; keep the newest stamp
        idx = idx.groupBy(*group).agg(F.max("batch_id").alias("batch_id"))
    else:
        idx = idx.dropDuplicates(group)
    if n_bands is None:
        # callers that built the index know its banding — passing
        # n_bands skips this sizing job (one fewer action per compaction)
        n_bands = idx.select("band").distinct().count()
    tmp_dir = index_dir.rstrip("/") + "__compacting"
    if files_per_band == 1:
        # hash on band: no range-sampling job, same one-file-per-band
        # layout (partitionBy splits by value; two bands sharing a hash
        # partition still write separate sig-sorted files)
        shuffled = idx.repartition(max(1, n_bands), F.col("band"))
    else:
        shuffled = idx.repartitionByRange(
            max(1, n_bands * files_per_band), F.col("band"), F.col("sig")
        )
    (
        shuffled
        .sortWithinPartitions("band", "sig")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(tmp_dir)
    )
    from wwwision_importservice_spark.fsutil import list_data_files, replace_dir

    replace_dir(spark, tmp_dir, index_dir)
    if stats is not None:
        after = spark.read.parquet(index_dir)
        stats["files_after"] = len(list_data_files(spark, index_dir))
        stats["rows_after"] = after.count()


def incremental_lsh_pairs(
    new_sigs: DataFrame,
    index: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int = 10_000,
    broadcast_keys: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup candidate pairs for a NEW batch of documents against an
    existing corpus, without recomputing the corpus: emits exactly the
    pairs that involve ≥1 new document — new↔new and new↔indexed —
    under the same banding scheme as :func:`lsh_candidate_pairs`.

    ``index`` is the ``(id, band, sig)`` bucket table from
    :func:`lsh_index` (typically read back from parquet). Equivalence
    property (pinned in tests): batch-1 pairs ∪ incremental(batch 2 vs
    index(batch 1)) == one-shot pairs over batch 1 ∪ 2, **for buckets
    that never cross ``max_bucket_size``** — banding is
    order-independent, and any bucket touching a new doc retains its
    full historical membership here. When a bucket crosses the cap
    *between* batches the incremental union is a strict SUPERSET of
    the one-shot result: pairs already emitted while the bucket was
    under-cap are never retracted, while the one-shot run drops the
    whole over-cap bucket including those pairs. For near-dup removal
    a superset of candidates errs toward dropping more (conservative
    for training data); callers needing the exact one-shot set on an
    over-cap corpus must re-run :func:`lsh_candidate_pairs` over the
    union. Both directions are pinned in tests: the under-cap
    equivalence, and the over-cap strict superset with drop
    accounting (``tests/test_extensions.py::
    test_incremental_lsh_over_cap_bucket_is_superset_with_accounting``).

    Scale shape — the reason this exists: a continuously-fed corpus
    can't re-run LSH over 100 TB per crawl batch. Here the index side
    is first pruned with a left-semi join against the new batch's
    DISTINCT bucket keys (a broadcast when the batch is small — the
    index is scanned but NEVER shuffled), so the bucket-group shuffle
    moves only (batch rows + historical members of touched buckets).
    Per-batch cost ∝ batch size + touched-bucket width, independent of
    corpus size except for the pruned index scan; partition the stored
    index by ``band`` and sort by ``sig`` to cut that scan too.
    """
    new_b = _band_buckets(new_sigs, id_col, num_hashes, bands)
    return incremental_pairs_from_buckets(
        new_b,
        index,
        id_col,
        max_bucket_size=max_bucket_size,
        broadcast_keys=broadcast_keys,
        stats=stats,
    )


def incremental_pairs_from_buckets(
    new_buckets: DataFrame,
    index: DataFrame,
    id_col: str,
    *,
    max_bucket_size: int = 10_000,
    broadcast_keys: bool = True,
    prune_index: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """The :func:`incremental_lsh_pairs` core, taking the new batch's
    ALREADY-BANDED bucket rows (``(id, band, sig)`` from
    :func:`lsh_index`) instead of raw signatures. Exists so callers
    that need the bucket frame anyway — the streaming gate computes it
    once, checkpoints it, and reuses it for the pair join AND the
    survivor index append — don't pay a second shingling/banding pass.
    Semantics and scale shape are exactly the parent's.

    ``prune_index=False`` skips the internal bucket-key semi-join —
    for callers (the streaming gate) that already restricted ``index``
    to the batch's buckets and reuse that pruned frame elsewhere;
    passing an UNpruned index with False silently over-widens nothing
    (the group join is still keyed) but pays the full index in the
    bucket shuffle, so leave it True unless the prune provably
    happened.

    ``stats``: opt-in drop accounting, same contract as
    :func:`lsh_candidate_pairs` — ``lsh_buckets_dropped`` /
    ``lsh_ids_in_dropped`` counted over the COMBINED (batch ∪ touched
    index) bucket membership, so a bucket that crosses the cap between
    batches is reported here even though its historical under-cap pairs
    were already emitted (the superset direction of the equivalence
    docstring). Costs one extra small aggregate job; the default path
    adds nothing."""
    new_b = new_buckets.select(id_col, "band", "sig")
    # tolerate decorated indexes (batch_id age stamps, future metadata)
    index = index.select(id_col, "band", "sig")
    if prune_index:
        # broadcast fits while bucket keys ≈ bands × batch docs (a crawl
        # batch); a corpus-sized BACKFILL batch overflows the driver —
        # pass broadcast_keys=False there and the semi join plans as a
        # shuffle (which a backfill would force anyway)
        if broadcast_keys:
            # RAW keys, not their distinct (r15; the streaming gate made
            # the same change in r14): a left-semi probe is unchanged by
            # duplicate build keys, while the distinct cost an exchange +
            # aggregate inside the broadcast build. The build stays
            # bounded by bands × batch rows.
            touched = F.broadcast(new_b.select("band", "sig"))
        else:
            # the shuffle path keeps the distinct: there the dedup pays
            # for itself by shrinking the semi join's own shuffle
            touched = new_b.select("band", "sig").distinct()
        idx_hit = index.join(touched, ["band", "sig"], "left_semi")
    else:
        idx_hit = index
    members = (
        new_b.withColumn("__new", F.lit(True))
        .unionByName(idx_hit.withColumn("__new", F.lit(False)))
        .groupBy("band", "sig")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("__new").alias("new"))
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        if stats is not None:
            row = (
                members.filter(F.size("ids") > max_bucket_size)
                .agg(
                    F.count(F.lit(1)).alias("buckets"),
                    F.coalesce(F.sum(F.size("ids")), F.lit(0)).alias("ids"),
                )
                .collect()[0]
            )
            stats["lsh_buckets_dropped"] = row["buckets"]
            stats["lsh_ids_in_dropped"] = row["ids"]
            if row["buckets"]:
                import logging

                logging.getLogger(__name__).warning(
                    "incremental_pairs_from_buckets: %d bucket(s) crossed "
                    "max_bucket_size=%d (%d ids) — no new pairs emitted for "
                    "them; historical under-cap pairs stand (superset "
                    "semantics)",
                    row["buckets"], max_bucket_size, row["ids"],
                )
        members = members.filter(F.size("ids") <= max_bucket_size)
    pairs_arr = F.flatten(
        F.transform(
            "ids",
            lambda a: F.transform(
                F.filter(
                    "ids", lambda b: (b["id"] > a["id"]) & (a["new"] | b["new"])
                ),
                lambda b: F.struct(a["id"].alias("id_a"), b["id"].alias("id_b")),
            ),
        )
    )
    return (
        members.select(F.explode(pairs_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Band the signature (``bands`` × ``num_hashes/bands`` rows), bucket
    by band signature, emit candidate pairs (id_a < id_b) sharing ≥1
    bucket. The banding trades recall for candidate count in the standard
    LSH way (P(candidate) = 1-(1-j^r)^b).

    Pairs come from grouping ids per bucket and expanding combinations
    in-array — one pass over the signature pipeline, no self-join.

    ``max_bucket_size`` caps the per-bucket pair expansion: a bucket
    wider than the cap (a boilerplate cluster — at web scale a single
    1M-doc bucket would expand to 5·10¹¹ pairs) is EXCLUDED from pair
    generation instead of exploding quadratically; its members are the
    near-identical boilerplate that exact/fingerprint dedup collapses
    far more cheaply. The registered queries' DuckDB oracles model the
    same cap (entry_queries._PAIRS_SQL ``HAVING count(*) <= 10000``),
    so engine and oracle stay value-identical on either side of it.
    Observability is opt-in: pass a ``stats`` dict to receive
    ``lsh_buckets_dropped`` / ``lsh_ids_in_dropped`` /
    ``lsh_pairs_avoided`` (costs one extra small aggregate job) and a
    logged warning when anything was dropped — the default path adds no
    job, so it reports nothing. ``max_bucket_size=None`` disables the
    ceiling.
    """
    buckets = _band_buckets(sig_df, id_col, num_hashes, bands)

    grouped = (
        buckets.groupBy("band", "sig")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        oversize = grouped.filter(F.size("ids") > max_bucket_size)
        if stats is not None:
            # observability costs one small aggregate job (the grouped
            # frame is recomputed — opt-in, off the default path)
            row = oversize.agg(
                F.count(F.lit(1)).alias("buckets"),
                F.coalesce(F.sum(F.size("ids")), F.lit(0)).alias("ids"),
                F.coalesce(
                    F.sum(
                        F.size("ids").cast("long")
                        * (F.size("ids").cast("long") - 1)
                        / 2
                    ),
                    F.lit(0),
                ).cast("long").alias("pairs"),
            ).collect()[0]
            stats["lsh_buckets_dropped"] = row["buckets"]
            stats["lsh_ids_in_dropped"] = row["ids"]
            stats["lsh_pairs_avoided"] = row["pairs"]
            if row["buckets"]:
                import logging

                logging.getLogger(__name__).warning(
                    "lsh_candidate_pairs: dropped %d bucket(s) wider than "
                    "%d (%d ids, %d pairs avoided)",
                    row["buckets"], max_bucket_size, row["ids"], row["pairs"],
                )
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    pairs_arr = F.flatten(
        F.transform(
            "ids",
            lambda a: F.transform(
                F.filter("ids", lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iterations: int = 20,
    stats: dict | None = None,
    double_from: int = 3,
    small_graph_threshold: int | None = 100_000,
    max_collect_bytes: int = 64 << 20,
    edges_within_nodes: bool = False,
    pairs_distinct: bool = False,
) -> DataFrame:
    """Cluster ids for a near-duplicate pair graph: every node gets
    ``cluster_id`` = the minimum id reachable through the pairs — the
    step that turns candidate pairs into dedup groups (keep one doc per
    cluster, e.g. ``doc_id == cluster_id``).

    Min-label propagation with **two-hop pointer doubling**: each round
    every node takes the min of (its own label, its neighbors' labels,
    its label's label). The neighbor step alone converges in O(graph
    diameter) rounds; the label-of-label hop compresses every pointer
    chain ~2× per round, so deep components (chains, long merge paths)
    converge in O(log diameter) — the same round bound as the
    large-star/small-star family, for one extra self-join on the small
    label frame instead of a per-round edge rewrite. The hop only pays
    for itself on DEEP graphs: near-dup clusters are usually star-shaped
    (diameter ≤ 2, converged in 2-3 neighbor rounds), where the extra
    join is pure overhead — so doubling is gated to rounds ≥
    ``double_from`` (default 3: shallow graphs never pay it, a
    1000-chain still converges in ~double_from + log₂ 1000 rounds,
    measured 1.25× faster end-to-end at sf0.1). Each round is two
    joins + one hash aggregate over the *paired* nodes only; lineage is
    cut per round with ``localCheckpoint`` so the plan stays flat (on a
    cluster with unreliable executors prefer ``checkpoint()`` + a
    checkpoint dir). Raises after ``max_iterations`` rounds without
    convergence rather than looping forever — this is driver-side
    *control* flow only, the data never leaves executors.

    ``stats``: optional dict; on return ``stats["iterations"]`` carries
    the executed round count (pinned by the round-count regression test)
    and ``stats["strategy"]`` which path ran.

    ``small_graph_threshold``: the same size-guarded strategy split as a
    broadcast join — a pair graph whose EDGE COUNT fits the threshold is
    solved with one union-find on the driver (2 jobs total: the edge
    count, which materializes the lazily-checkpointed edges anyway, and
    the collect) instead of 2-3 jobs *per propagation round*. Near-dup
    graphs are tiny relative to their corpus (most docs are isolated;
    pairs ≪ docs), so this is the common case even at large corpus
    scale, while a genuinely huge graph (a backfill, a boilerplate
    storm) exceeds the threshold and takes the distributed rounds.
    100k edges of long ids ≈ 1.6 MB collected — broadcast-sized. The
    row threshold is paired with ``max_collect_bytes`` (default 64 MB)
    measured from the actual id widths in the same sizing aggregate,
    so wide string ids (URLs, content hashes) can't surprise the
    driver: the fast path DECLINES when estimated bytes exceed the cap
    (pinned by test), and ``stats["edge_collect_est_bytes"]`` exposes
    the estimate. ``None`` forces the distributed path. The corpus
    itself never collects: isolated nodes stay a distributed anti join
    on either path.

    ``edges_within_nodes``: caller's promise that every pair id appears
    in ``nodes`` — true BY CONSTRUCTION when the pairs were derived
    from the same frame (the standard LSH pipeline: nodes = corpus ids,
    pairs = ``lsh_candidate_pairs`` over those ids). Skips the
    node-induced-subgraph restriction (a corpus-side semi-join plus two
    edge-side semi-joins and their jobs — measured ~1.6× of the whole
    clustering query at sf0.1). The promise is NOT validated; for a
    stale or externally-sourced pair table leave it False so foreign
    ids can't conduct connectivity (equivalence of the two settings
    under closure is pinned in tests).

    ``pairs_distinct`` (r14): caller's promise that ``pairs`` holds each
    UNORDERED pair at most once with no self-pairs — true by
    construction for every LSH pair operator here (they emit
    ``id_a < id_b`` exactly once). Skips the symmetrize-dedup
    ``.distinct()`` (one shuffle of the edge frame). Duplicate edges
    would not change the labels on either strategy (min-propagation and
    union-find are idempotent over edges); the distinct exists to bound
    the edge frame and the driver collect, which the promise already
    does. Equivalence pinned in tests.
    """
    raw_edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    if not pairs_distinct:
        raw_edges = raw_edges.distinct()
    all_nodes = nodes.select(F.col(id_col).alias("id"))
    if edges_within_nodes:
        # Caller guarantees closure: the node-induced subgraph IS the
        # pair graph, and (edges being symmetrized) every pair id both
        # appears in nodes and keeps an edge.
        edges = raw_edges.localCheckpoint(eager=False)
        # NOT distinct-ed (r15): this frame's only uses are the isolated
        # LEFT ANTI join below — unchanged by duplicate right-side keys —
        # and the distributed path's initial labels, which re-dedup for
        # themselves (edged_unique=False). The distinct was one exchange
        # + aggregate over the edge frame on EVERY invocation, paid even
        # when the driver fast path made the labels frame moot.
        edged = edges.select(F.col("src").alias("id"))
        edged_unique = False
    else:
        # Restrict to the NODE-INDUCED subgraph before anything else:
        # pairs referencing ids absent from `nodes` (a stale pair
        # table, a filtered corpus) must not conduct connectivity on
        # EITHER strategy — a foreign id could otherwise bridge two
        # node components or become a cluster label that exists nowhere
        # in the corpus, and the driver fast path (raw union-find)
        # would disagree with the distributed rounds (where unlabeled
        # neighbors never contribute). Shape: pair ids are small ->
        # broadcast them against the corpus once (nodes scanned, never
        # shuffled), then the resulting small node set broadcasts back
        # over the small edge frame twice.
        pair_nodes = all_nodes.join(
            F.broadcast(raw_edges.select(F.col("src").alias("id")).distinct()),
            "id",
            "left_semi",
        )
        edges = (
            raw_edges.join(
                F.broadcast(pair_nodes.select(F.col("id").alias("src"))),
                "src",
                "left_semi",
            )
            .join(
                F.broadcast(pair_nodes.select(F.col("id").alias("dst"))),
                "dst",
                "left_semi",
            )
            # NOT pre-partitioned on dst: an explicit repartition("dst")
            # would make each round's edge join exchange-free, but it
            # pins the shuffle width and defeats AQE's partition
            # coalescing — at bench scale (small pair graph, task
            # overhead dominates) it measured no better and often worse
            # under ambient load. On a cluster where the pair graph is
            # huge relative to task overhead, revisit:
            # edges.repartition("dst") here trades one up-front
            # exchange for zero per-round edge shuffles.
            .localCheckpoint(eager=False)
        )
        # propagate only over nodes that KEEP an edge after the
        # restriction (a node whose only partner was foreign is
        # isolated) — the pair graph is orders of magnitude smaller
        # than the corpus (most documents are isolated and trivially
        # their own cluster), so every iteration's join/aggregate runs
        # on the small frame
        edged = pair_nodes.join(
            F.broadcast(edges.select(F.col("src").alias("id")).distinct()),
            "id",
            "left_semi",
        )
        # unique by construction: a semi join of the (unique-id) corpus
        edged_unique = True
    isolated = all_nodes.join(edged, "id", "left_anti").select(
        F.col("id"), F.col("id").alias("cluster_id")
    )
    if small_graph_threshold is not None:
        # One aggregate sizes the graph in ROWS and BYTES (it also
        # materializes the lazy edge checkpoint every path needs — not
        # an extra pass over the corpus). The row threshold alone would
        # let wide ids (URLs, content hashes as ids) blow the driver:
        # 100k edges of 8-byte longs is ~1.6 MB, of 1 KB URLs ~200 MB.
        sized = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.octet_length(F.col("src").cast("string"))
                + F.octet_length(F.col("dst").cast("string"))
            ).alias("id_bytes"),
        ).first()
        n_edges = sized["n"]
        # ~48 bytes/edge of Row/object overhead on top of the id payload
        est_bytes = (sized["id_bytes"] or 0) + 48 * n_edges
        if stats is not None:
            stats["edge_collect_est_bytes"] = est_bytes
        if n_edges <= small_graph_threshold and est_bytes <= max_collect_bytes:
            if stats is not None:
                stats["strategy"] = "driver-union-find"
                stats["iterations"] = 0
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            edge_rows = edges.collect()
            for row in edge_rows:
                a, b = find(row["src"]), find(row["dst"])
                if a != b:
                    # the smaller id stays root, so root == component min
                    if a < b:
                        parent[b] = a
                    else:
                        parent[a] = b
            # edges are symmetrized, so {src} is the full paired-node set
            members = {row["src"] for row in edge_rows}
            spark = nodes.sparkSession
            id_type = nodes.schema[id_col].dataType.simpleString()
            labelled = spark.createDataFrame(
                [(x, find(x)) for x in sorted(members)],
                f"id {id_type}, cluster_id {id_type}",
            )
            # No nodes-intersection needed: the union-find ran over the
            # node-induced subgraph, so every member AND every label is
            # a corpus id by construction (strategy agreement on foreign
            # pair ids is pinned in tests, including foreign-min and
            # foreign-bridge shapes).
            return labelled.unionByName(isolated)
    if stats is not None:
        stats["strategy"] = "distributed-rounds"
    # initial labels must be one row per paired node — the closure-path
    # edged carries duplicates (see above), so dedup HERE, where the
    # distributed rounds actually need it; the fast path never pays it
    labels = (edged if edged_unique else edged.distinct()).select(
        F.col("id"), F.col("id").alias("cluster_id")
    ).localCheckpoint(eager=True)

    for rounds in range(1, max_iterations + 1):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("__nbr_min"))
        )
        cand = labels.join(
            nbr_min, labels["id"] == nbr_min["src"], "left"
        ).select(
            F.col("id"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("__nbr_min"), F.col("cluster_id")),
            ).alias("cluster_id"),
            F.col("cluster_id").alias("__prev"),
        )
        # pointer doubling: follow the candidate label one more hop
        # through the current label table (label values are node ids of
        # the same component, so any adopted label stays in-component
        # and labels only decrease — the fixpoint is unchanged). Gated:
        # rounds < double_from skip the hop, so shallow (star-shaped)
        # graphs converge on the cheap neighbor step alone.
        if rounds >= double_from:
            hop = labels.select(
                F.col("id").alias("__lid"), F.col("cluster_id").alias("__lmin")
            )
            new_plan = cand.join(
                hop, cand["cluster_id"] == hop["__lid"], "left"
            ).select(
                F.col("id"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("__lmin"), F.col("cluster_id")),
                ).alias("cluster_id"),
                F.col("__prev"),
            )
        else:
            new_plan = cand
        # convergence metric rides the checkpoint action (r15; the same
        # fold pagerank_converged uses): the changed-row count is an
        # observe() aggregate on the frame being materialized anyway —
        # no new-vs-old join, and no follow-up filter job per round
        # (previously one isEmpty job per round on the checkpointed
        # frame). An empty paired-node frame sums to NULL -> converged.
        obs_chg = Observation()
        new_full = new_plan.observe(
            obs_chg,
            F.sum(
                (F.col("cluster_id") != F.col("__prev")).cast("int")
            ).alias("changed"),
        ).localCheckpoint(eager=True)
        labels = new_full.drop("__prev")
        if int(obs_chg.get["changed"] or 0) == 0:
            if stats is not None:
                stats["iterations"] = rounds
            return labels.unionByName(isolated)
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def ngram_jaccard(
    pairs: DataFrame, shingle_df: DataFrame, id_col: str
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs:
    ``|A∩B| / (|A|+|B|-|A∩B|)``. Joins stay on (id, shingle) keys; the
    candidate set bounds the cost."""
    sizes = shingle_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = shingle_df.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingle_df.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("overlap")
                / (F.col("n_a") + F.col("n_b") - F.col("overlap"))
            ).alias("jaccard"),
        )
    )


_HEX = "0123456789abcdef"


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash fingerprint: per-token md5, majority vote per bit position,
    assembled into a ``bits``-wide integer (bit i from hex nibble i of the
    token hash, +1 when odd / -1 when even).

    One explode + one hash aggregate with ``bits`` sums — the vote is a
    map-side partial aggregate, so the shuffle carries only per-doc
    partial sums."""
    token = F.explode(F.split(F.col(text_col), " ")).alias("tok")
    toks = df.select(F.col(id_col), token).filter(F.col("tok") != "")
    h = F.md5(F.col("tok"))
    votes = [
        F.sum(
            F.when(
                (F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - 1) % 2 == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    voted = toks.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = bit if sig is None else (sig + bit)
    return voted.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_near_pairs(
    sig_df: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance.

    Block on the signature's low byte halves to avoid all-pairs: two
    16-bit signatures within hamming ≤ 3 agree exactly on at least one
    of 4 disjoint 4-bit blocks (pigeonhole); the bucket key is (block
    idx, block value). Like :func:`lsh_candidate_pairs`, pairs expand
    in-array per bucket — no self-join, one pass over the signatures."""
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                ((F.col("simhash") / F.lit(2 ** (4 * i))).cast("long") % 16).alias("val"),
            )
            for i in range(4)
        ]
    )
    keyed = sig_df.select(
        F.col(id_col), F.col("simhash"), F.explode(blocks).alias("bk")
    ).select(id_col, "simhash", F.col("bk.blk").alias("blk"), F.col("bk.val").alias("val"))

    grouped = (
        keyed.groupBy("blk", "val")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sig"))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    pairs_arr = F.flatten(
        F.transform(
            "members",
            lambda a: F.transform(
                F.filter("members", lambda b: b["id"] > a["id"]),
                lambda b: F.struct(
                    a["id"].alias("id_a"),
                    b["id"].alias("id_b"),
                    F.bit_count(a["sig"].bitwiseXOR(b["sig"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Train/eval contamination (decontamination pass): for every eval
    document, the fraction of its distinct word ``n``-gram shingles that
    occur anywhere in the training corpus — eval rows with high overlap
    were (partially) memorizable from training data and must be dropped
    or down-weighted before the benchmark means anything.

    Shape at scale: the train side collapses to a DISTINCT shingle-hash
    set (one hash aggregate over longs, never strings); the eval side
    left-semi-joins against it on the fixed-width key and re-aggregates
    per document. Eval corpora are small next to training corpora, so
    the expensive side is exactly one distinct + one join, both on
    8-byte keys; broadcast the train set when it fits.
    """
    tr = (
        hashed_word_shingles(train, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    ev = hashed_word_shingles(eval_df, id_col, text_col, n)
    totals = ev.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        ev.join(tr, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    joined = totals.join(hits, id_col, "left")
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return joined.select(
        F.col(id_col),
        F.col("n_shingles"),
        n_hits.alias("n_hits"),
        F.round(n_hits.cast("double") / F.col("n_shingles"), 6).alias(
            "contamination"
        ),
    )


def minhash_signatures_inline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Explode-free MinHash: the whole shingle→signature stage as one
    per-row expression — ``h_i = array_min(transform(shingle_hashes,
    s → (a_i·s + b_i) mod p))`` over the document's gram-hash array.

    Semantically identical to ``hashed_word_shingles →
    minhash_signatures`` (min over a multiset equals min over its
    distinct set), but the plan has NO explode, NO distinct, and NO
    shuffle before LSH banding: one codegen'd projection takes each
    document straight to its 16-column signature. The exploded form
    shuffles |docs|·|shingles| rows for the distinct + aggregate; this
    shuffles nothing — at 100 TB the signature stage becomes scan-bound.
    The exploded variants remain for consumers that need the shingle
    SETS themselves (exact Jaccard, contamination).
    """
    _check_num_hashes(num_hashes)
    words = F.split(F.col(text_col), " ")
    word_hashes = F.transform(words, lambda w: _base_hash(w))

    def shingle_hash(i):
        acc = F.coalesce(F.try_element_at(F.col("__wh"), i), F.lit(0))
        for k in range(1, n):
            nxt = F.coalesce(F.try_element_at(F.col("__wh"), i + F.lit(k)), F.lit(0))
            acc = (acc * F.lit(_SHINGLE_P) + nxt) % F.lit(_SHINGLE_M)
        return acc

    hashed = df.select(F.col(id_col), word_hashes.alias("__wh"))
    count = F.greatest(F.size(F.col("__wh")) - F.lit(n - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), count), shingle_hash)
    sig_cols = [
        F.array_min(
            F.transform(
                grams,
                lambda s: (s * F.lit(_MINHASH_A[i]) + F.lit(_MINHASH_B[i]))
                % F.lit(_MINHASH_PRIME),
            )
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return hashed.select(F.col(id_col), *sig_cols)


def ngram_containment(
    pairs: DataFrame, shingle_df: DataFrame, id_col: str
) -> DataFrame:
    """Exact shingle-set CONTAINMENT for candidate pairs:
    ``|A∩B| / |A|`` and ``|A∩B| / |B|`` — the asymmetric companion to
    Jaccard. A short document quoted inside a long one scores near 1 on
    one side while its Jaccard stays small, so subset/quote duplication
    is invisible to the symmetric measure. Same join shape as
    :func:`ngram_jaccard`: candidate-bounded (id, shingle) equi-joins,
    never all-pairs.
    """
    sizes = shingle_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = shingle_df.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingle_df.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("overlap") / F.col("n_a"), 6).alias("containment_a"),
            F.round(F.col("overlap") / F.col("n_b"), 6).alias("containment_b"),
        )
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Cross-document duplicated-span profile — the span-level dedup
    signal (à la "Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2022, at n-gram granularity): per document, how
    many of its distinct word n-grams also appear in at least one OTHER
    document, and the ratio. High ratios mark boilerplate-contaminated
    documents that exact/minhash whole-doc dedup misses because the
    duplication is partial.

    Shape: the hashed shingle set is computed ONCE; a window over the
    shingle key counts containing-documents in the same pass that a
    per-document aggregate then consumes — two shuffles total (shingle,
    then doc id), no self-join, no second scan of the corpus. Emits
    ``(id, n_spans, n_shared_spans, dup_span_ratio)``.
    """
    from pyspark.sql import Window

    sh = hashed_word_shingles(df, id_col, text_col, n)
    # distinct (doc, shingle) rows → per-shingle row count == number of
    # documents containing the shingle
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    tagged = sh.withColumn("__ndocs", ndocs)
    shared = F.sum((F.col("__ndocs") > 1).cast("long")).alias("n_shared_spans")
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        shared,
    ).select(
        F.col(id_col),
        "n_spans",
        "n_shared_spans",
        F.round(F.col("n_shared_spans") / F.col("n_spans"), 6).alias(
            "dup_span_ratio"
        ),
    )


# --------------------------------------------------------------------------- #
# Bloom-filter membership: shuffle-free decontamination against a
# reference id/fingerprint set
# --------------------------------------------------------------------------- #

@dataclass(frozen=True)
class BloomFilter:
    """A built Bloom filter: ``bits`` positions, ``k`` hashes, packed
    little-endian bitmap. Deterministic — positions are
    ``pmod(xxhash64(i, value), bits)`` for i in 0..k-1, so two builds
    over the same multiset are byte-identical and a persisted filter
    probes identically forever. ``dtype`` records the BUILD column's
    Spark type: xxhash64 is type-sensitive (hash(123L) != hash('123')),
    so probing with a differently-typed column would silently void the
    no-false-negative guarantee — the probe validates it instead."""

    bits: int
    k: int
    bitmap: bytes
    n_items: int
    dtype: str


#: default ceiling on the materialized bitmap (512 MiB ≈ 430M items at
#: 1% fpp). The bitmap lives ONCE on the driver (the OR-fold holds ≤ 5
#: copies transiently) and once per executor as a broadcast — far below
#: Spark's 8 GB broadcast hard cap, chosen so the decontamination path
#: never silently becomes the thing that OOMs the driver.
MAX_BLOOM_BITMAP_BYTES = 512 * 2**20


def build_bloom_filter(
    ref: DataFrame,
    col: str,
    fpp: float = 0.01,
    expected_items: int | None = None,
    max_bitmap_bytes: int = MAX_BLOOM_BITMAP_BYTES,
) -> BloomFilter:
    """Build a Bloom filter over ``ref[col]`` — ONE narrow pass: bit
    positions are computed JVM-side (xxhash64), each partition folds
    its rows into a full local bitmap (Arrow batches, numpy OR), and
    the per-partition bitmaps OR together on the driver. No shuffle of
    the reference, ever.

    Sizing: ``bits = ceil(-n·ln(fpp)/ln²2)`` ≈ 9.6 bits/item at 1% —
    an eval-benchmark reference of 10M fingerprints is ~12 MB, a 100M
    one ~120 MB; beyond ~1e9 items the bitmap itself outgrows
    driver/broadcast comfort and the shuffle anti-join is the right
    tool again (this operator targets the decontamination regime:
    small-vs-huge). That ceiling is ENFORCED, not advisory
    (``max_bitmap_bytes``, default :data:`MAX_BLOOM_BITMAP_BYTES` =
    512 MiB ≈ 430M items at 1% fpp): a reference big enough to blow it
    raises with the partitioned alternative named — a plain
    ``left_anti``/``left_semi`` join on the reference, which shuffles
    but never materializes anything driver-side — instead of building
    toward a driver/broadcast OOM. Raise the cap explicitly only with
    driver memory to match. ``expected_items`` skips the sizing count
    when the caller already knows n. The per-partition bitmaps are
    OR-reduced
    in a SECOND parallel fold stage down to ≤ 4 before the driver sees
    them — one wall-clock-parallel pass over the reference (a
    sequential ``toLocalIterator`` drain would serialize the scan into
    one job per partition), with driver residency bounded at ~5
    bitmaps; total driver traffic ≤ 4 × bitmap_bytes, the justified
    collect."""
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    import math

    n = int(expected_items) if expected_items is not None else ref.count()
    bits = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(bits / max(n, 1) * math.log(2)))
    nbytes = (bits + 7) // 8
    if nbytes > max_bitmap_bytes:
        raise ValueError(
            f"build_bloom_filter: {n} items at fpp={fpp} need a "
            f"{nbytes / 2**20:.0f} MiB bitmap, over the "
            f"{max_bitmap_bytes / 2**20:.0f} MiB driver/broadcast ceiling "
            "— this operator targets the small-vs-huge decontamination "
            "regime. For a reference this large use the partitioned "
            "alternative (df.join(ref, col, 'left_anti'/'left_semi'): "
            "shuffles, but materializes nothing driver-side), loosen "
            "fpp, or raise max_bitmap_bytes to match your driver memory"
        )

    pos_cols = F.array(
        *[
            F.pmod(F.xxhash64(F.lit(i), F.col(col)), F.lit(bits))
            for i in range(k)
        ]
    )

    def fold(batches):
        import numpy as np
        import pandas as pd

        bm = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            pos = np.concatenate(pdf["__pos"].values).astype(np.int64)
            np.bitwise_or.at(bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    def or_fold(batches):
        import numpy as np
        import pandas as pd

        bm = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            for raw in pdf["bm"].values:
                seen = True
                bm |= np.frombuffer(raw, dtype=np.uint8)
        if seen:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    import numpy as np

    bm = np.zeros(nbytes, dtype=np.uint8)
    parts = (
        ref.select(pos_cols.alias("__pos"))
        .mapInPandas(fold, schema="bm binary")
        .repartition(4)
        .mapInPandas(or_fold, schema="bm binary")
        .collect()
    )
    for r in parts:
        bm |= np.frombuffer(r["bm"], dtype=np.uint8)
    return BloomFilter(
        bits=bits, k=k, bitmap=bm.tobytes(), n_items=n,
        dtype=ref.schema[col].dataType.simpleString(),
    )


#: one Broadcast per live BloomFilter object — repeated probes (the
#: per-micro-batch anti + semi pair of a long-running ingest) reuse a
#: single executor-resident copy instead of shipping a fresh bitmap
#: per call. Keyed by OBJECT IDENTITY, not value: the frozen
#: dataclass's value hash would re-hash the whole multi-MB bitmap on
#: every lookup. weakref.finalize evicts the entry with the filter.
_BLOOM_BROADCASTS: dict = {}


def _bloom_broadcast(spark, bloom: BloomFilter):
    import weakref

    bc = _BLOOM_BROADCASTS.get(id(bloom))
    if bc is None:
        bc = spark.sparkContext.broadcast(bloom.bitmap)
        _BLOOM_BROADCASTS[id(bloom)] = bc
        weakref.finalize(bloom, _BLOOM_BROADCASTS.pop, id(bloom), None)
    return bc


def _bloom_member_mask(df: DataFrame, bloom: BloomFilter, col: str):
    """Tag rows with ``__maybe`` = every probe bit set (possible
    member; false positives at ~fpp) — the shared core of the
    semi/anti forms. Hashes JVM-side, bit tests one vectorized numpy
    pass per Arrow batch against the (cached) broadcast bitmap."""
    probe_type = df.schema[col].dataType.simpleString()
    if probe_type != bloom.dtype:
        raise TypeError(
            f"bloom probe column {col!r} is {probe_type} but the filter "
            f"was built over {bloom.dtype} — xxhash64 is type-sensitive, "
            "so a mismatched probe would silently void the "
            "no-false-negative guarantee; cast explicitly to the build "
            "type first"
        )
    spark = df.sparkSession
    bc = _bloom_broadcast(spark, bloom)
    bits, k = bloom.bits, bloom.k
    pos_cols = F.array(
        *[
            F.pmod(F.xxhash64(F.lit(i), F.col(col)), F.lit(bits))
            for i in range(k)
        ]
    )
    tagged = df.withColumn("__pos", pos_cols)
    out_schema = tagged.drop("__pos").schema.add("__maybe", "boolean")

    def probe(batches):
        import numpy as np

        bm = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            pos = np.stack(pdf["__pos"].values).astype(np.int64)
            hit = ((bm[pos >> 3] >> (pos & 7)) & 1).all(axis=1)
            out = pdf.drop(columns=["__pos"])
            out["__maybe"] = hit
            yield out

    return tagged.mapInPandas(probe, schema=out_schema)


def bloom_anti_join(
    df: DataFrame, bloom: BloomFilter, col: str
) -> DataFrame:
    """Keep only rows whose ``col`` is DEFINITELY absent from the
    reference the filter was built over — the decontamination shape
    (drop training docs that might be eval-set members) without
    shuffling either side: the probe is a narrow map pass against a
    broadcast bitmap ~10 bits per reference item.

    Guarantees: NO false negatives (a kept row is provably not in the
    reference — pinned exactly by test); genuinely-new rows are
    over-dropped at ≈ the build fpp (measured and bounded by test) —
    the conservative direction for decontamination. For exact
    semantics on a small reference use a broadcast anti-join; this
    exists for references too big to broadcast as values but fine as
    ~10 bits/item."""
    return _bloom_member_mask(df, bloom, col).filter(~F.col("__maybe")).drop(
        "__maybe"
    )


def bloom_semi_join(
    df: DataFrame, bloom: BloomFilter, col: str
) -> DataFrame:
    """The complement: rows POSSIBLY in the reference (every true
    member plus ~fpp of non-members) — the audit/inspection feed for
    what :func:`bloom_anti_join` dropped."""
    return _bloom_member_mask(df, bloom, col).filter(F.col("__maybe")).drop(
        "__maybe"
    )


def bloom_verified_anti_join(
    df: DataFrame,
    bloom: BloomFilter,
    ref: DataFrame,
    col: str,
    ref_col: str | None = None,
) -> DataFrame:
    """EXACT decontamination at Bloom cost: rows whose ``col`` is in
    the reference are removed, and — unlike :func:`bloom_anti_join` —
    the ~fpp of innocents the bitmap would over-drop are RESTORED by a
    second-stage exact check, so the result equals a plain
    ``left_anti`` join row-for-row (oracle-pinned: ``x2_decontaminate``).

    One-pass shape: the broadcast-bitmap probe (one narrow map pass,
    no shuffle) tags each row ``__maybe`` (every true member + ~fpp of
    the rest clear it; ~(1-fpp) of non-members don't), and ONE
    ``left_anti`` join with the compound condition
    ``col-equality AND __maybe`` removes exactly the confirmed
    members: a cleared row can never satisfy the condition — the
    bitmap's no-false-negative guarantee makes that sound — so it
    passes through without probing the reference's hash relation,
    while each maybe pays one exact hash probe. An earlier two-branch
    form (filter keeps / filter maybes / union) had the same
    semantics but consumed the unpersisted probe output twice, so the
    corpus was scanned and bloom-probed TWICE (r8 code-review
    finding); the compound condition folds both branches into one
    scan + one probe — pinned by the plan test.

    At 100 TB this is the right exactness/cost trade: ~(1-fpp) of the
    corpus skips the per-row hash probe, nothing is scanned twice, the
    reference side is the small one by the operator's contract (eval
    sets) and broadcasts. ``ref_col`` defaults to ``col``; the exact
    stage casts it to the probe column's type so the equality the join
    tests is the one the bitmap was built over."""
    ref_col = col if ref_col is None else ref_col
    keys = ref.select(
        F.col(ref_col).cast(df.schema[col].dataType).alias("__ref_key")
    ).distinct()
    masked = _bloom_member_mask(df, bloom, col)
    return masked.join(
        F.broadcast(keys),
        (F.col(col) == F.col("__ref_key")) & F.col("__maybe"),
        "left_anti",
    ).drop("__maybe")


def ngram_decontaminate(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    ref_text_col: str | None = None,
) -> DataFrame:
    """N-GRAM decontamination: drop every training document that shares
    ANY word ``n``-gram with the reference (eval/test) corpus — the
    standard 13-gram overlap filter for LLM training sets, as opposed
    to :func:`bloom_verified_anti_join`'s whole-document exact-key
    form. Documents shorter than ``n`` words participate via their
    whole text as a single gram (the :func:`hashed_word_shingles`
    convention), so tiny eval items still decontaminate verbatim
    copies.

    Scale shape (the part that matters at 100 TB): the corpus side is
    ONE map pass — word-hash, rolling-polynomial n-grams, explode,
    WITHOUT the per-document distinct (duplicates can't change
    semi-join membership, so the full-corpus (id, shingle) shuffle is
    skipped; ``hashed_word_shingles(distinct=False)``). The reference
    side — small by the operator's contract, it's an eval set — is
    distinct-ed and BROADCAST, making the semi-join map-side. The only
    shuffles are the distinct over contaminated ids (bounded by the
    contamination rate, not the corpus) and the final anti-join, which
    AQE converts to broadcast when the contaminated set is small.
    N-grams travel as fixed-width longs end to end; no gram strings
    are materialized on either side."""
    ref_text_col = text_col if ref_text_col is None else ref_text_col
    # distinct=False on the shingle pass: the per-(id, shingle) distinct
    # would duplicate the .distinct() below over the same set (one
    # redundant shuffle per call — r11 review catch); one aggregate
    # dedups the gram set directly
    ref_grams = (
        hashed_word_shingles(
            ref.select(
                F.lit(0).alias("__refid"), F.col(ref_text_col).alias("__reftext")
            ),
            "__refid", "__reftext", n=n, distinct=False,
        )
        .select("shingle")
        .distinct()
    )
    doc_grams = hashed_word_shingles(
        docs.select(id_col, text_col), id_col, text_col, n=n, distinct=False
    )
    contaminated = (
        doc_grams.join(F.broadcast(ref_grams), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def ngram_contamination_report(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    ref_text_col: str | None = None,
) -> DataFrame:
    """The audit feed for :func:`ngram_decontaminate`: per contaminated
    document, how many DISTINCT n-grams it shares with the reference
    (``(id, n_hits)``) — what a curation run logs next to its drop
    counts. Same broadcast-semi shape; the per-document distinct IS
    needed here (hit counting), so this is the costlier query and
    exists for audits, not the hot path."""
    ref_text_col = text_col if ref_text_col is None else ref_text_col
    # distinct=False on the shingle pass: the per-(id, shingle) distinct
    # would duplicate the .distinct() below over the same set (one
    # redundant shuffle per call — r11 review catch); one aggregate
    # dedups the gram set directly
    ref_grams = (
        hashed_word_shingles(
            ref.select(
                F.lit(0).alias("__refid"), F.col(ref_text_col).alias("__reftext")
            ),
            "__refid", "__reftext", n=n, distinct=False,
        )
        .select("shingle")
        .distinct()
    )
    doc_grams = hashed_word_shingles(
        docs.select(id_col, text_col), id_col, text_col, n=n
    )
    return (
        doc_grams.join(F.broadcast(ref_grams), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def save_bloom_filter(spark, bloom: BloomFilter, path: str) -> None:
    """Persist as base64 text with a geometry header — the filter is
    state like the LSH index: build once per reference release, probe
    from every pipeline run."""
    import base64

    from wwwision_importservice_spark.fsutil import write_text_file

    write_text_file(
        spark,
        path,
        f"{bloom.bits}\n{bloom.k}\n{bloom.n_items}\n{bloom.dtype}\n"
        + base64.b64encode(bloom.bitmap).decode("ascii"),
    )


def load_bloom_filter(spark, path: str) -> BloomFilter:
    import base64

    from wwwision_importservice_spark.fsutil import read_text_file

    text = read_text_file(spark, path)
    if text is None:
        raise FileNotFoundError(f"load_bloom_filter: no filter at {path!r}")
    parts = text.split("\n", 4)
    if len(parts) != 5:
        raise ValueError(
            f"load_bloom_filter: {path!r} is not the 5-field "
            "bits/k/n/dtype/payload format (old or foreign file?) — "
            "rebuild with build_bloom_filter + save_bloom_filter"
        )
    bits, k, n, dtype, payload = parts
    return BloomFilter(
        bits=int(bits), k=int(k),
        bitmap=base64.b64decode(payload), n_items=int(n), dtype=dtype,
    )
