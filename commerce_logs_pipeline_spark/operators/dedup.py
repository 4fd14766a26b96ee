"""Deduplication operators for training-data pipelines.

Five strategies, each with a distinct scale/recall profile:

- exact_dedup: hash-groupBy on a normalized content hash. One shuffle on
  the hash; at 100 TB this is the cheapest full-corpus pass.
- ngram_jaccard_pairs: exact Jaccard over shingle sets via an
  explode->self-join-on-shingle->count inverted-index plan (only documents
  sharing at least one shingle are ever paired — no cross join).
- minhash_lsh_pairs: MinHash signatures banded into LSH buckets; candidate
  pairs from bucket joins, optionally verified with exact Jaccard. The
  standard sub-quadratic near-dup plan (Broder; see PAPERS.md).
- simhash_dups: 64-bit SimHash; near-dups = pairs within hamming distance d,
  found by banding the fingerprint into 4 x 16-bit blocks (pigeonhole: any
  pair with d<=3 shares at least one exact block).
- embedding_dups: cosine-similar pairs over embedding vectors (see also
  operators/ann.py for top-k search).

Scale notes: every strategy avoids O(n^2): inverted index / LSH buckets /
block keys bound the candidate set. Bucket-join skew (a hot shingle shared
by everything) is capped with a max-bucket-size filter, the same hot-key
discipline as operators/skew.py.

Cache contract: the self-join operators persist their first-stage products
(shingle base / banded / fingerprint frames) because a plan-tree reference
re-executes the subtree otherwise. Wrap calls in ``released_after()`` and
materialize (collect/write) inside the scope — every intermediate the
operators persisted is unpersisted on exit. Outside the scope the frames
stay registered until the caller releases them (clearCache/unpersist),
the long-lived-session footgun VERDICT r3 #4 flagged.
"""

from __future__ import annotations

import logging
import warnings
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark import StorageLevel

_log = logging.getLogger(__name__)

# --- scoped cache registry -------------------------------------------------
# ContextVar (not a module global) so concurrent driver threads / async
# contexts each get their own scope stack — a persist from thread B must
# not register into (and be unpersisted by) thread A's exiting scope.
_ACTIVE_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar(
    "dedup_active_scope", default=None
)


def _persist(df: DataFrame,
             level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Persist an operator intermediate; inside a ``released_after`` scope
    the handle is tracked for automatic unpersist on exit."""
    df = df.persist(level)
    scope = _ACTIVE_SCOPE.get()
    if scope is not None:
        scope.append(df)
    return df


@contextmanager
def released_after():
    """Scope that releases every intermediate the dedup/ANN operators
    persist. Materialize results INSIDE the scope (after exit the result
    plans recompute from source — still correct, no longer cached):

        with released_after():
            pairs = minhash_lsh_pairs(docs).collect()

    Nests: an inner scope releases only its own persists. Scopes are
    per-thread/per-async-context (ContextVar)."""
    token = _ACTIVE_SCOPE.set([])
    try:
        yield
    finally:
        scope = _ACTIVE_SCOPE.get()
        _ACTIVE_SCOPE.reset(token)
        for f in scope:
            f.unpersist()

from ..functions.similarity import (
    hamming64,
    minhash_signature,
    plane_matrix,
    with_simhash,
)
from ..functions.text import content_md5, shingles_from_tokens, tokens
from ..util import ensure_min_partitions


def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least one input split per core BEFORE a CPU-heavy per-row
    kernel (md5 hashing, simhash/minhash folds). Those kernels run ahead of
    any shuffle, so a small or single-split input serializes them on one
    task — measured 20s single-task vs <1s spread for the simhash kernel
    over a one-file parquet corpus. No-op at real scale where inputs carry
    >= cores splits."""
    return ensure_min_partitions(
        df, df.sparkSession.sparkContext.defaultParallelism
    )


def _pin(pred: "Column") -> "Column":
    """``pred`` OR a never-true nondeterministic arm — value-identical to
    ``pred``, but the disjunction cannot be split into conjuncts and a
    nondeterministic predicate is never moved, so the filter stays WHERE
    IT IS WRITTEN. (An AND-ed nondeterministic barrier is NOT enough:
    pushdown through Repartition pushes every deterministic conjunct
    regardless of position.) Used on the token-count gates below, whose
    predicate reads a materialized token array — pushed down, the
    predicate is substituted through the projection AND through the
    _spread exchange into the parquet scan, where (a) the whole corpus
    is re-tokenized a second time just for the gate and (b) that
    tokenize runs on the scan's task count (ONE task for a single-file
    input: measured as the 2-second single-task scan stages in the r6
    ngram/simhash profiles)."""
    return pred | (F.spark_partition_id() < 0)


def _join_parallelism(df: DataFrame) -> int:
    """Partition count for the candidate-generating self-joins: at least
    one per core, or the session's shuffle side-width if larger (the
    cluster-sized knob). Used as an EXPLICIT repartition count because
    AQE sizes post-shuffle partitions by input BYTES, and these joins are
    output-amplifying: a few MB of (key, id) rows fan out into bucket^2
    candidate pairs, so byte-based coalescing serializes the most
    CPU-intensive stage of the operator onto one task (measured: the two
    2-second single-task join stages in the r6 ngram profile)."""
    spark = df.sparkSession
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )


def _shingled(
    df: DataFrame, text_col: str, id_col: str, k: int, hashed: bool = False
) -> DataFrame:
    """(id, sh) with every expensive array materialized as its OWN column
    so each downstream lambda reads an attribute instead of re-running its
    producer per element (see text.shingles_from_tokens).

    hashed=True (production): sh is array<long> of 64-bit shingle keys —
    built with native hash composition, no shingle strings ever exist, and
    every downstream explode/join/shuffle carries 8-byte keys.
    hashed=False: exact shingle strings (the portable/oracle path)."""
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    # Empty-shingle filter expressed on the TOKEN count, placed BEFORE the
    # shingle projection: sh is empty iff size(toks) < k, and a trailing
    # filter(size(sh) > 0) gets predicate-pushed through the projections
    # with the whole shingle expression INLINED into the predicate — where
    # the token array is no longer an attribute, so each per-element
    # element_at/slice re-evaluates the tokenizer subtree: an O(n^2)
    # filter evaluated on every row (measured 2.6x the whole operator).
    # _pin keeps the gate HERE: without it the predicate is pushed below
    # the _spread exchange into the scan, re-tokenizing the corpus
    # single-threaded (r6).
    base = base.filter(_pin(F.size("_toks") >= k))
    if hashed:
        from ..functions.text import (
            hashed_shingles_from_hashed_tokens,
            hashed_tokens,
        )

        base = base.withColumn("_th", hashed_tokens(F.col("_toks"))).withColumn(
            "sh", hashed_shingles_from_hashed_tokens(F.col("_th"), k)
        )
    else:
        base = base.withColumn("sh", shingles_from_tokens(F.col("_toks"), k))
    return base.select("id", "sh")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each exact (normalized) text.

    groupBy on content hash -> min(id): one shuffle, fully parallel,
    skew-free (hash keys are uniform).
    """
    h = content_md5(F.col(text_col))
    return (
        df.withColumn("_h", h)
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_h").orderBy(id_col)),
        )
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(content_hash, n_dups, keep_id) for groups with >1 member."""
    return (
        df.withColumn("content_hash", content_md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    jumps_per_round: int = 3,
) -> DataFrame:
    """Connected components over near-dup pairs -> (id, cluster_id), with
    cluster_id = MIN member id — the canonical survivor for
    keep-one-per-cluster dedup (the step downstream of every pair
    generator in this module: pairs say "these two match", clusters say
    "keep doc X, drop the rest").

    Distributed min-label propagation WITH multi-level pointer jumping:
    each round takes the per-vertex min over self + neighbors' labels
    (hash-min, one edges-vs-labels shuffle join) + a chained pointer
    jump label^(k+1)(v) (``jumps_per_round`` label self-joins — label
    frames are vertex-sized and checkpointed, so each extra jump is one
    cheap equi-join next to the edge join). Hash-min alone converges in
    O(component diameter) rounds, which is NOT a safe bound for real
    near-dup graphs: templated corpora chain into giant components
    (sf0.1 simhash: one 2657-vertex component whose diameter exceeds 20
    — plain hash-min exhausted max_iterations and, pre-r5, silently
    returned split labels). One jump per round doubles the compressed
    path length (O(log2 d) rounds — 8 on that same graph); chaining
    ``jumps_per_round`` jumps multiplies it by (jumps+1) per round, so
    rounds fall to O(log_{jumps+1} d) — measured 9 -> 4 rounds at sf0.1
    (r6) — while the expensive edges-vs-labels join runs once per ROUND,
    not per jump: fewer rounds = strictly fewer edge shuffles at scale,
    and fewer driver round-trips locally. The default max_iterations=20
    covers diameter ~4^20.

    Convergence is detected via the label-sum invariant (labels only
    ever decrease, so an unchanged sum means a fixed point), attached to
    the round's checkpoint job as an OBSERVED metric — zero extra jobs
    per round (r6; previously a separate scalar collect per round).
    Exhausting ``max_iterations`` without the fixpoint AUTO-ESCALATES:
    the round budget doubles (with a RuntimeWarning) up to a hard cap of
    4x the initial budget, so a long production run never throws away
    completed shuffle work over an under-sized knob — every finished
    round's labels are checkpointed and the loop simply continues from
    them. Past the cap it still raises rather than return silently split
    clusters (partial labels are WRONG answers, not approximations).

    ``all_ids`` (one id column) adds singleton vertices so every document
    receives a cluster row.

    Lineage: each round's label frame references the previous round
    several times (neighbor join + jump chain + self union), so the
    LOGICAL plan would grow geometrically — 20 rounds of plan growth
    OOMs the driver before a byte of data moves. Every round therefore
    cuts lineage with an eager localCheckpoint; dropping the previous
    round's reference lets Spark's ContextCleaner reclaim its blocks.
    ``edges`` is likewise checkpointed (r6; previously persist-only):
    the logical plan of a persisted frame is still the WHOLE upstream
    pair generator, which the driver re-analyzes for every job of every
    round — the checkpoint makes each round's plan O(round), not
    O(pair-generator), cutting the driver-side planning gap that
    dominated the local profile (81 jobs -> ~30).
    """
    from pyspark.sql import Observation

    # decimal sum: overflow-proof convergence invariant at any id scale
    _sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")

    # symmetrize via explode, NOT a self-union: a union references the
    # ``pairs`` plan twice, and plan-tree references re-execute — the
    # whole upstream pair generator (LSH banding, simhash blocks) would
    # run twice just to flip edge direction
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .localCheckpoint(eager=True)
    )
    # iterate ONLY over vertices that appear in a pair — singletons can
    # never change label, so carrying them through every round's
    # union+groupBy would multiply the label frame by corpus/dup-rate
    # for nothing; they join the result once at the end.
    # Round 1 is FUSED into initialization: with every label starting as
    # its own id, the first propagation is label(v) = min(v, min
    # neighbor id) — a single groupBy over the edge list, no join and no
    # separate init frame to checkpoint (saves one full round of
    # join+shuffle+checkpoint; cliques land on their final label
    # immediately and pay only the one verification round below)
    init_obs = Observation()
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_mn"))
        .select("id", F.least(F.col("id"), F.col("_mn")).alias("label"))
        .observe(init_obs, _sum)
        .localCheckpoint(eager=True)
    )
    prev_sum = init_obs.get["s"]
    converged = False
    budget = max_iterations
    hard_cap = 4 * max_iterations
    rounds = 0
    while rounds < budget:
        nbr = (
            edges.join(labels.withColumnRenamed("id", "src"), on="src")
            .select(F.col("dst").alias("id"), "label")
        )
        # chained pointer jumping: label^(k+1)(v). Every label value is
        # a pair-vertex id in the same component, so it is a key of
        # ``labels`` and each inner join in the chain loses nothing (the
        # self union below keeps every vertex regardless). ``labels`` is
        # checkpointed, so the chain is k cheap vertex-sized equi-joins
        # in ONE plan — no intermediate materialization.
        jump = labels
        for _j in range(max(1, jumps_per_round)):
            jump = jump.join(
                labels.select(
                    F.col("id").alias("label"), F.col("label").alias("_jl")
                ),
                on="label",
            ).select("id", F.col("_jl").alias("label"))
        obs = Observation()
        labels = (
            nbr.union(jump)
            .union(labels.select("id", "label"))
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .observe(obs, _sum)
            .localCheckpoint(eager=True)
        )
        # labels only ever decrease, so an unchanged decimal sum proves
        # the fixpoint; the sum rides the checkpoint job as an observed
        # metric — no per-round collect, no extra scan
        new_sum = obs.get["s"]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
        rounds += 1
        if rounds == budget and budget < hard_cap:
            # Auto-escalate instead of discarding the completed rounds:
            # the current labels are a checkpointed frame, so continuing
            # costs only the REMAINING rounds — at 100 TB, re-running the
            # whole job over a knob is the expensive wrong default.
            budget = min(hard_cap, budget * 2)
            # the warning reaches interactive callers; the log line
            # reaches production driver logs, where warnings are not shown
            msg = (f"dup_clusters: no fixpoint after {rounds} rounds; "
                   f"escalating round budget to {budget} "
                   f"(hard cap {hard_cap})")
            _log.warning(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    if not converged:
        raise RuntimeError(
            f"dup_clusters: min-label propagation did not reach the "
            f"fixpoint within {hard_cap} rounds (max_iterations="
            f"{max_iterations}, auto-escalated 4x); a component has "
            f"propagation diameter beyond the escalated budget and its "
            f"cluster labels would be silently split. Re-run with a "
            f"larger max_iterations."
        )
    out = labels.select("id", F.col("label").alias("cluster_id"))
    if all_ids is not None:
        first = all_ids.columns[0]
        singles = (
            all_ids.select(F.col(first).alias("id"))
            .distinct()
            .join(labels.select("id"), on="id", how="left_anti")
            .withColumn("cluster_id", F.col("id"))
        )
        out = out.union(singles)
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    hash_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs via shingle inverted index.

    Plan: explode shingles -> (shingle -> [ids]) -> self-join on shingle
    -> count common shingles per pair -> jaccard = common/(|A|+|B|-common).
    Only pairs sharing >=1 shingle are materialized. ``max_bucket`` drops
    degenerate ubiquitous shingles (stopword-like), the skew guard.

    hash_shingles=True (production): shingle strings are never built — the
    inverted index keys on 64-bit hash-composed shingle keys (8 bytes per
    join key instead of a k-word string), cutting both the map-side
    construction cost and the exchange volume several-fold. Collisions
    conflate two shingles with probability ~n_distinct^2/2^64 (vanishing;
    and an ε overcount in ``common``, not a crash). hash_shingles=False
    keeps the exact string keys for external-oracle parity.

    The Jaccard is computed over the FILTERED shingle universe: per-doc
    sizes are re-counted after the hot-shingle drop so numerator and
    denominator agree (counting the full set against a filtered common
    count would systematically underestimate similarity for docs that
    contain hot shingles).
    """
    sh = _shingled(df, text_col, id_col, k, hashed=hash_shingles)
    exploded = sh.select("id", F.explode("sh").alias("shingle"))
    # skew guard: drop shingles present in too many docs (stopword-like
    # shingles make the self-join quadratic — a hot shingle in f docs
    # yields f^2 candidate rows). Shape matters at scale: the count uses
    # groupBy (MAP-SIDE partial aggregation — the shuffle carries one row
    # per distinct key per task, never the exploded rows), and the filter
    # is an ANTI-join against only the OVER-limit keys — a list that is
    # small by construction (<= rows/max_bucket, Zipf-tiny in practice) so
    # AQE broadcasts it and no exploded row moves. A window-count guard
    # would instead funnel every row of the hottest key through ONE
    # unsplittable task just to count it.
    hot = (
        exploded.groupBy("shingle")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > max_bucket)
        .select("shingle")
    )
    # hash-partition the surviving index by the join key BEFORE persisting
    # (r6): the self-join below then reads co-partitioned cache on BOTH
    # sides — zero join exchanges instead of two — and the explicit count
    # keeps the output-amplifying join at full width where AQE's
    # byte-based coalescing would serialize it (see _join_parallelism)
    surv = _persist(  # feeds sizes + both join sides
        exploded.join(hot, on="shingle", how="left_anti")
        .repartition(_join_parallelism(df), "shingle")
    )
    # per-doc sizes over the surviving universe (tiny frame: one row/doc)
    n_filtered = surv.groupBy("id").agg(F.count("*").alias("n"))
    a = surv.select("shingle", F.col("id").alias("id_a"))
    b = surv.select("shingle", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    # attach sizes AFTER pair aggregation: the join touches candidate
    # pairs, not the exploded corpus
    na = n_filtered.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = n_filtered.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(na, on="id_a")
        .join(nb, on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("n_a") + F.col("n_b") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.7,
    max_bucket: int = 200,
    portable: bool = False,
) -> DataFrame:
    """MinHash+LSH candidate pairs (optionally verified with exact Jaccard).

    signature(n universal hashes over one base hash per shingle) -> bands
    -> band-hash buckets -> self-join within buckets. Sub-quadratic: cost ~
    sum over buckets of bucket^2, bounded by ``max_bucket``.

    portable=False (production): xxhash64 base + band hashes — no md5 in
    the hot loop. portable=True: the md5 family end-to-end so an external
    SQL oracle reproduces signatures AND buckets bit-for-bit.

    Shuffle discipline: the band self-join carries ONLY (band, bucket, id)
    — at corpus scale the shingle arrays dominate row width, so they are
    re-attached BY ID to the deduped candidate pairs for the verify step
    (shuffles candidates, not the corpus, through the join).
    """
    rows_per_band = n_hashes // bands
    # base feeds the signature AND both verify re-attach joins; banded
    # self-joins against itself — persist both so the tokenize/shingle/hash
    # work is paid once (plan-tree references re-execute, they don't share)
    base = _persist(_shingled(df, text_col, id_col, k, hashed=not portable))
    if portable:
        sig_col = minhash_signature(F.col("sh"), n_hashes, portable=True)
    else:
        from ..functions.similarity import minhash_signature_from_hashes

        sig_col = minhash_signature_from_hashes(F.col("sh"), n_hashes)
    sig = base.withColumn("sig", sig_col)

    # band key over the signature slice: md5 of the comma-joined values in
    # portable mode (DuckDB-reproducible); xxhash64 over the slice itself
    # otherwise (no string materialization; F.hash/xxhash64 are Spark-only)
    def band_key(bi: int) -> Column:
        sl = F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band)
        if portable:
            return F.md5(
                F.concat_ws(",", F.transform(sl, lambda x: x.cast("string")))
            )
        return F.xxhash64(sl).cast("string")

    band_cols = [
        F.struct(F.lit(bi).alias("band"), band_key(bi).alias("bucket"))
        for bi in range(bands)
    ]
    # hot-bucket guard: map-side-partial count + anti-join against the
    # over-limit buckets only (same skew-safe shape as the ngram guard —
    # a window count would funnel each hot bucket through one task)
    banded_all = _persist(  # feeds count + both sides
        sig.select("id", F.explode(F.array(*band_cols)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )
    hot = (
        banded_all.groupBy("band", "bucket")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > max_bucket)
        .select("band", "bucket")
    )
    banded = banded_all.join(hot, on=["band", "bucket"], how="left_anti")
    left = banded.select("band", "bucket", F.col("id").alias("id_a"))
    right = banded.select("band", "bucket", F.col("id").alias("id_b"))
    cand = (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify_threshold is None:
        return cand
    from ..functions.similarity import jaccard

    sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 500,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash within ``max_hamming`` bits.

    Pigeonhole banding: split the 64-bit fingerprint into 4 x 16-bit
    blocks; any pair within hamming distance 3 agrees exactly on >=1 block,
    so block equality is a complete candidate generator. Zero-token docs
    are excluded (their fingerprint carries no signal; exact dedup handles
    them). ``portable=True`` uses the md5 hash family so an external SQL
    oracle reproduces the fingerprints.
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).filter(_pin(F.size("_toks") > 0))  # see _pin
    fp = _persist(  # 16 bytes/doc; feeds 4 subtrees
        with_simhash(toks, F.col("_toks"), out="fp", portable=portable)
        .select("id", "fp")
    )
    blocks = [
        F.struct(
            F.lit(bi).alias("block"),
            F.shiftright(F.col("fp"), bi * 16).bitwiseAND(F.lit(0xFFFF))
            .alias("key"),
        )
        for bi in range(4)
    ]
    banded = fp.select("id", "fp", F.explode(F.array(*blocks)).alias("b")).select(
        "id", "fp", F.col("b.block").alias("block"), F.col("b.key").alias("key")
    )
    sizes = banded.groupBy("block", "key").agg(F.count("*").alias("bn"))
    banded = banded.join(
        sizes.filter(F.col("bn") <= max_bucket).select("block", "key"),
        on=["block", "key"],
    )
    l = banded.select("block", "key", F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    r = banded.select("block", "key", F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        l.join(r, on=["block", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Embedding near-dups: random-hyperplane LSH buckets then exact cosine
    within buckets. The ±1 planes are deterministic md5-seeded LITERALS
    (similarity.plane_matrix) — zero per-row hash cost, and an external
    SQL oracle embeds the identical constants. ``max_bucket`` caps hot
    buckets (dense regions of embedding space) the same way the shingle
    and band guards do. For the brute-force/top-k path see operators/ann.py.
    """
    from ..functions.similarity import cosine, dot

    planes = plane_matrix(n_planes, dim)
    b = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(s) for s in plane])
        bit = F.when(dot(F.col("v"), lit_plane) >= 0, F.lit(2 ** p)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit
    b = _persist(b.withColumn("bucket", bucket))
    sizes = b.groupBy("bucket").agg(F.count("*").alias("bn"))
    b = b.join(
        sizes.filter(F.col("bn") <= max_bucket).select("bucket"), on="bucket"
    )
    l = b.select("bucket", F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    r = b.select("bucket", F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        l.join(r, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("v_a"), F.col("v_b")), 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
