"""Deduplication operator family for large-scale training-data pipelines.

Five strategies, each a composition of built-in DataFrame ops (no
custom physical operators):

- ``exact_dedup``            : hash-groupBy on the full text
- ``ngram_jaccard_pairs``    : blocked exact word-set Jaccard
- ``minhash_lsh_pairs``      : MinHashLSH banding (approx Jaccard)
- ``simhash_signatures`` / ``simhash_pairs`` : 64-bit SimHash + Hamming
- embedding cosine near-dup lives in ``operators.similarity``

Scale notes (100 TB): exact dedup is one shuffle on a 256-bit digest —
group keys are hashes, not full documents, so shuffle payload is small
when callers pre-hash. Blocked Jaccard bounds the candidate set by the
blocking key's group sizes (quadratic *within* block only). MinHashLSH
shuffles on (band, bucket) — linear in corpus size — and is the
correct strategy when no natural blocking key exists. SimHash packs a
document into 8 bytes, so the pair join moves minimal data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import distinct_tokens
from .spread import spread


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: keep min-id row per identical text.

    Groups on ``sha2(text, 256)`` so the shuffle carries a 64-char digest
    instead of arbitrarily long documents (reference docs can be MBs).
    Returns (keeper_id, n_copies).
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("__digest"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper_id", "n_copies")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard similarity pairs within a blocking key.

    jaccard = |A ∩ B| / |A ∪ B| over distinct whitespace tokens.

    Physical strategy: a shuffle EQUI-join on the composite key
    (block, length-bucket). The raw blocking key alone is
    LOW-cardinality (5 langs → 5 shuffle keys → 5 active tasks, and
    the earlier broadcast-the-corpus alternative caps out at executor
    memory). The length bucket multiplies key cardinality by ~40-60
    while staying LOSSLESS: J ≥ t ⇒ min(|A|,|B|)/max(|A|,|B|) ≥ t ⇒
    |ln|A| − ln|B|| ≤ ln(1/t), so with bucket = floor(ln n / ln(1/t))
    any qualifying pair differs by at most one bucket. The probe side
    emits {bk−1, bk, bk+1} and the build side its own bk; exactly one
    probe key matches per pair, so each (doc_a < doc_b) pair appears
    exactly once — no post-join dedup. Neither side is broadcast, so
    the plan survives corpora that dwarf executor memory; quadratic
    cost is bounded per (block, bucket) group.

    The same size-ratio prune also runs as a cheap int residual
    predicate inside the join, skipping the expensive array
    intersection for cross-neighbor-bucket pairs that can't qualify.

    ``max_bucket`` (opt-in, same mitigation as ``minhash_lsh_pairs``)
    skips (block, length-bucket) groups with more than that many
    DISTINCT-token-set representatives: a boilerplate mega-cluster of
    near-identical distinct documents makes the per-group quadratic
    term fatal at scale. Unlike LSH there is no other band to recover
    through, so recall inside a skipped group drops to the exact-dup
    pairs (which never enter the join); every other group is exact as
    before. Default None preserves exact pre-cap output. The bound is
    per GROUP, not per cluster: a mega-cluster whose member sizes
    straddle a length-bucket boundary, each side just under the cap,
    still pays the full quadratic cross-bucket join — the cap limits
    each (block, bucket) group's size, not a cluster's total candidate
    count.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, 4-dp rounded.
    """
    # Tokens are hashed to 64-bit longs before the pair join:
    # array_intersect over longs beats strings ~2.5× (no per-element
    # string hashing/equality inside the O(pairs) loop). Jaccard over
    # hashed tokens equals word Jaccard up to xxhash64 collisions
    # (P ≈ n²·2⁻⁶⁵ per doc — negligible), same argument as
    # minhash_lsh_pairs.
    # Spread BEFORE tokenizing so the hash pass (both the probe side
    # and the broadcast build) parallelizes even when the file scan
    # yields 1-2 partitions (no-op if the input is already spread).
    # The isNotNull filters make the blocked-join semantics explicit
    # (NULL blocks never pair, and NULL text — whose token set is null —
    # never pairs either: pre-collapse, jaccard over null arrays is null
    # and the threshold filter drops it): the equi-join already dropped
    # both, and the within-set collapse fast path below must not
    # resurrect them as bogus J=1.0 cliques. Filter the RAW columns, not
    # the derived token array — a derived-column filter gets pushed into
    # a pre-projection Filter that re-evaluates the whole tokenize+hash
    # expression tree a second time; these two null checks reach the
    # parquet scan as PushedFilters instead.
    d = (
        spread(df)
        .filter(F.col(block_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(block_col).alias("__blk"),
            # Sorted so identical token SETS are identical ARRAYS (the
            # collapse key); array_intersect is order-independent, so
            # jaccard values are unchanged.
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.split(F.col(text_col), " "), lambda w: F.xxhash64(w)
                    )
                )
            ).alias("__words"),
        )
    )
    # EXACT-DUP COLLAPSE (same argument as minhash_lsh_pairs): an
    # m-copy token set inside a block otherwise puts m·(m-1)/2 pairs
    # through the quadratic intersect loop. Group to one representative
    # per (block, set), pair representatives, expand members after:
    # within-set pairs are J=1.0 by construction, cross-set pairs
    # inherit the representatives' exact jaccard. Persist because the
    # grouped frame feeds both join sides and the within-set branch.
    d = (
        d.groupBy("__blk", "__words")
        .agg(
            F.min("__id").alias("__id"),
            F.collect_list("__id").alias("__mem"),
            F.count(F.lit(1)).alias("__m"),
        )
        .withColumn("__n", F.size("__words"))
        .persist()
    )
    if 0.0 < threshold < 1.0:
        width = math.log(1.0 / threshold)
        bucket = F.floor(
            F.log(F.greatest(F.col("__n"), F.lit(1)).cast("double")) / F.lit(width)
        )
    else:  # t<=0 admits any size ratio (no bucket pruning possible); t>=1
        # would make width = log(1/t) <= 0 and break the bucket floor
        # math — size_prune alone handles t=1 exactly
        bucket = F.lit(0)
    d = d.withColumn("__bk", bucket.cast("long"))
    dj = d
    if max_bucket is not None:
        # Hot-group skip: representative counts per (block, bucket) are
        # a near-distinct partial-agg frame joined back on the join's
        # own shuffle key; over-cap groups leave BOTH join sides (their
        # exact-dup within-pairs below are untouched).
        # EAGER-MATERIALIZE the persisted collapse frame first (r12
        # finding): post-cap both self-join sides are small enough for
        # AQE to broadcast, and broadcast-exchange futures are SEPARATE
        # concurrent jobs — with d persisted but not yet computed, their
        # tasks race on the cache-block write lock and each recomputes
        # the whole tokenize+group pipeline serially behind it (measured
        # 40 s vs 7 s on a 7 000-doc corpus, SCALING.md "r12:
        # `max_bucket` hot-bucket cap quantified").
        # One count() here fills the cache once; every future then
        # block-reads. Only the capped path pays this (and it needs d
        # materialized anyway); default None keeps the plan fully lazy.
        d.count()
        sz = d.groupBy("__blk", "__bk").agg(F.count(F.lit(1)).alias("__gn"))
        dj = d.join(
            sz.filter(F.col("__gn") <= max_bucket).drop("__gn"),
            ["__blk", "__bk"],
        )
    a = dj.withColumn(
        "__pk", F.explode(F.array(F.col("__bk") - 1, F.col("__bk"), F.col("__bk") + 1))
    ).alias("a")
    b = dj.alias("b")
    size_prune = (
        F.least(F.col("a.__n"), F.col("b.__n")).cast("double")
        / F.greatest(F.col("a.__n"), F.col("b.__n"))
        >= threshold
    )
    inter = F.size(F.array_intersect(F.col("a.__words"), F.col("b.__words")))
    union = (F.col("a.__n") + F.col("b.__n") - inter).cast("double")
    jac = F.round(inter.cast("double") / union, 4)
    # The jaccard threshold lives IN the join condition, in this order
    # (r16): as a separate post-join filter the optimizer pushes it into
    # the condition PREPENDED — the plan then evaluated the two-
    # intersect round() predicate FIRST for every bucket-adjacent pair,
    # before the cheap id< / size-ratio predicates it was supposed to hide
    # behind (join conditions get no codegen subexpression elimination,
    # so each evaluation pays array_intersect twice). Stated explicitly,
    # conjunct order is preserved: id< and the int size-ratio prune
    # first, then a SINGLE-intersect conservative prefilter (jac >= t ⟺
    # inter·(1+t) >= t·(na+nb), evaluated at t' = t − 1e-4 so it is a
    # necessary condition for round(·,4) >= t — never drops a
    # qualifying pair), and the exact two-intersect predicate only for
    # the ~survivors. Measured 1.11 → 0.86 s steady-state on the sf0.1
    # cross branch with bit-identical output (237,452 pairs).
    tp = threshold - 1e-4
    prefilter = (
        inter.cast("double") * (1.0 + tp)
        >= F.lit(tp) * (F.col("a.__n") + F.col("b.__n")).cast("double")
        if threshold > 0.0
        else F.lit(True)
    )
    cross = (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__pk") == F.col("b.__bk"))
            & (F.col("a.__id") < F.col("b.__id"))
            & size_prune
            & prefilter
            & (jac >= threshold),
        )
        .select(
            F.col("a.__mem").alias("__ma"),
            F.col("b.__mem").alias("__mb"),
            jac.alias("jaccard"),
        )
        .select(F.explode("__ma").alias("__da"), "__mb", "jaccard")
        .select("__da", F.explode("__mb").alias("__db"), "jaccard")
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "jaccard",
        )
    )
    within = (
        d.filter(F.col("__m") >= 2)
        .select(F.explode("__mem").alias("doc_a"), "__mem")
        .select("doc_a", F.explode("__mem").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
        # NOT dead code (r11 verdict nit): identical token sets have
        # J = 1.0 exactly, so this constant filter only fires for
        # threshold > 1.0 — where the whole operator must return zero
        # pairs and the cross-bucket branch already does (its jaccard
        # filter is data-dependent). Kept as a filter rather than a
        # parameter assert so t > 1 stays a valid "no pairs" query.
        .filter(F.lit(1.0) >= F.lit(threshold))
    )
    return cross.unionByName(within)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.9,
    bands: int = 4,
    rows_per_band: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate Jaccard near-dup pairs via banded MinHash LSH
    (shingle → minhash → band → bucket-join → exact verify).

    MLlib's MinHashLSH only OR-combines single minhashes — on corpora
    with high base similarity every pair becomes a candidate (measured
    422 s at sf0.1 here). This is the classic AND/OR construction
    instead: k = bands×rows_per_band minhashes per doc
    (``min(xxhash64(band_salt, word))``), each band's r-slice hashed to
    one bucket key; docs sharing any (band, bucket) become candidates;
    candidates are verified with EXACT jaccard, so precision is 1.0 and
    only recall is probabilistic (P ≈ 1-(1-J^r)^b ≈ 0.89 at J=0.9 with
    b=4, r=8; →1 as J→1).

    Scale: candidate generation is linear (explode b rows/doc, shuffle
    on well-distributed (band, bucket) keys); the only quadratic term
    is within identical buckets — i.e. actual near-dup clusters.
    Byte-IDENTICAL documents are collapsed to one representative before
    banding (below), so the quadratic term needs NEAR-identical
    distinct documents. A boilerplate-heavy corpus can still produce a
    mega-cluster (10M near-identical pages => 10^14 candidate pairs —
    fatal at 100 TB): ``max_bucket`` opts into the standard LSH
    mitigation of skipping (band, bucket) groups larger than the cap.
    Recall degrades gracefully — a doc in one skipped bucket still
    pairs through its other ``bands-1`` buckets, and members of a true
    mega-cluster keep their exact-dup pairs — while the candidate
    count is bounded by ``max_bucket``² per bucket. Default None
    preserves exact pre-cap output (and the catalog query's oracle
    parity).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, 4-dp rounded.
    """
    k = bands * rows_per_band
    # Tokens are hashed to 64-bit longs ONCE up front: every later stage
    # (32 minhash passes, the pairwise intersections) then works on long
    # arrays instead of strings — far cheaper to hash, compare, and
    # shuffle. Jaccard over hashed tokens equals word Jaccard up to
    # xxhash64 collisions (P ≈ n²·2⁻⁶⁵ per doc — negligible).
    # Spread BEFORE tokenizing: everything downstream (hash pass,
    # k-minhash signatures, verify-side array builds) inherits this
    # partitioning via narrow dependencies. A small file lands in 1-2
    # scan partitions, which would otherwise serialize all of that
    # compute; the shuffle moves raw (id, text) rows — paid once, and
    # only when the scan under-splits.
    # Null-text docs are excluded on the RAW column (r16): the previous
    # ``.filter(F.size("__h") > 0)`` is pushed below the spread exchange
    # as a Filter that evaluates the WHOLE tokenize+hash+sort tree on
    # the under-split scan (1-2 partitions — measured 0.56 s single-core
    # at sf0.1) and the tree is then recomputed after the shuffle.
    # ``split`` never returns an empty array, so size(__h) > 0 is
    # exactly "text is not null" — which reaches the parquet scan as a
    # PushedFilter instead (same fix ngram_jaccard_pairs documents).
    d = (
        spread(df.filter(F.col(text_col).isNotNull()))
        .select(
            F.col(id_col).alias("__id"),
            # single distinct AFTER hashing — distinct-then-hash-then-
            # distinct would pay the dedup pass twice (strings + longs).
            # Sorted so identical token SETS are identical ARRAYS (the
            # collapse key below); minhash folds and array_intersect
            # are order-independent, so results are unchanged.
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.split(F.col(text_col), " "), lambda w: F.xxhash64(w)
                    )
                )
            ).alias("__h"),
        )
    )
    # EXACT-DUP COLLAPSE: real corpora are dense in byte-identical /
    # token-identical documents (this fixture: 5000 docs -> 3935
    # distinct sets, one 248-copy group). Identical sets collide in
    # every band, so without the collapse an m-copy group alone puts
    # m·(m-1)/2 pairs through the bucket join AND the exact-jaccard
    # verify. Group to one representative per distinct token set, run
    # LSH + verify on representatives only, then expand members back:
    # within-group pairs are J=1.0 by construction (no intersection
    # computed), cross-group pairs inherit the representatives' exact
    # jaccard (identical sets => identical similarity). Output is
    # bit-identical to the uncollapsed pipeline; recall only improves
    # (identical sets always collide). The member list is one array
    # row per distinct set — fine to ~1e6 copies of a document; beyond
    # that run exact_dedup first (same shuffle key, streaming agg).
    # The grouped frame feeds three plan branches (signatures + both
    # sides of the verify join); persist so tokenize+hash+group run
    # once.
    d = (
        d.groupBy("__h")
        .agg(
            F.min("__id").alias("__id"),
            F.collect_list("__id").alias("__mem"),
            F.count(F.lit(1)).alias("__m"),
        )
        .withColumn("__n", F.size("__h"))
        .persist()
    )

    # All k minhashes in ONE fold over the token array: the accumulator
    # is the k-wide running-minimum vector, each token contributes its
    # k salted hashes via zip_with/least, and the aggregate's finish
    # lambda derives the per-band bucket keys (xxhash64 of each r-slice
    # — equality semantics identical to hashing the r minhashes as
    # separate arguments) from the final signature without a second
    # evaluation. Replaces the previous k separate
    # array_min(transform(...)) expressions: one pass over tokens
    # instead of k, ~2.5x faster signature stage at sf0.1 with
    # bit-identical minhash values (salt i here IS the sequence lambda
    # variable, typed INT to match the old F.lit(i) hash input).
    sig_init = F.array_repeat(F.lit(2**63 - 1).cast("long"), k)
    buckets = F.aggregate(
        "__h",
        sig_init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)), lambda i: F.xxhash64(i, h)
            ),
            lambda a, b: F.least(a, b),
        ),
        lambda sig: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.xxhash64(b, F.slice(sig, b * rows_per_band + 1, rows_per_band)),
        ),
    )
    # Candidate generation moves only (id, band, bucket) — 24 bytes/row;
    # token arrays are re-attached after verification so the heavy
    # columns never enter the bucket join. sigs is persisted because the
    # self-join references it on BOTH sides — without the persist Spark
    # recomputes the signature fold twice.
    # sigs inherits d's spread partitioning, so the stage that probes the
    # candidate join (into which verification also pipelines, since the
    # build sides are broadcast) parallelizes across the cluster.
    sigs = d.select(
        "__id", F.posexplode(buckets).alias("__band", "__bucket")
    ).persist()
    if max_bucket is not None:
        # Hot-bucket skip: count rows per (band, bucket) — 24-byte rows,
        # partial-aggregated map-side — and drop over-cap buckets from
        # BOTH sides of the candidate self-join. The count frame is
        # near-distinct and joins back on the same shuffle key the
        # self-join needs anyway.
        # Eager-materialize the persisted frame first — the capped plan
        # invites AQE broadcasts whose exchange futures otherwise race
        # to compute the cache serially (see ngram_jaccard_pairs).
        sigs.count()
        sz = sigs.groupBy("__band", "__bucket").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        sigs = sigs.join(
            sz.filter(F.col("__bn") <= max_bucket).drop("__bn"),
            ["__band", "__bucket"],
        )
    a = sigs.alias("a")
    b_ = sigs.alias("b")
    # A pair colliding in m bands appears m times here; dedup BEFORE
    # the verify join. The candidate rows are 16 bytes (two ids), so
    # the dedup shuffle is cheap at any density, while every duplicate
    # that survives into verification pays two array-joins plus an
    # O(|A|+|B|) intersection. Measured on the sf0.1 corpus (dense
    # near-dup clusters, AFTER the exact-dup collapse): 1.28M
    # representative candidate rows → 0.99M distinct; pre-collapse the
    # same corpus produced 4.9M → 3.0M, i.e. the collapse removed ~2/3
    # of the verify work and the band dedup another quarter.
    candidates = (
        a.join(
            b_,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Verify joins carry (id, hashes, members) only; no broadcast hint —
    # at sf0.01 AQE promotes them to broadcast, at 100 TB the corpus
    # side cannot be broadcast and these become shuffle joins on
    # well-spread doc ids.
    wa = d.select(
        F.col("__id").alias("doc_a"),
        F.col("__h").alias("__ha"),
        F.col("__n").alias("__na"),
        F.col("__mem").alias("__ma"),
    )
    wb = d.select(
        F.col("__id").alias("doc_b"),
        F.col("__h").alias("__hb"),
        F.col("__n").alias("__nb"),
        F.col("__mem").alias("__mb"),
    )
    # Size-ratio prune: J ≥ t ⇒ min(|A|,|B|)/max(|A|,|B|) ≥ t — a cheap
    # int predicate that skips the O(|A|+|B|) intersection for most
    # false candidates.
    size_ok = (
        F.least("__na", "__nb").cast("double") / F.greatest("__na", "__nb")
        >= jaccard_threshold
    )
    verified = (
        candidates.join(wa, "doc_a").join(wb, "doc_b").filter(size_ok)
    )
    inter = F.size(F.array_intersect("__ha", "__hb"))
    union = (F.col("__na") + F.col("__nb") - inter).cast("double")
    jac = F.round(inter.cast("double") / union, 4)
    if 0.0 < jaccard_threshold:
        # Single-intersect conservative prefilter (r16): the exact
        # round(inter/union, 4) >= t predicate references the
        # O(|A|+|B|) array_intersect TWICE (numerator + union) and join
        # conditions get no codegen subexpression elimination, so every
        # size-passing candidate paid two intersections. jac >= t ⟺
        # inter·(1+t) >= t·(na+nb); evaluated at t' = t − 1e-4 it is a
        # NECESSARY condition for round(·,4) >= t (round moves a value
        # by ≤ 5e-5; the double error of int-valued products is ~1e-12)
        # — one intersection per candidate, the exact two-intersect
        # predicate now runs only on the ~survivor set. Never drops a
        # qualifying pair, so output is bit-identical.
        tp = jaccard_threshold - 1e-4
        verified = verified.filter(
            inter.cast("double") * (1.0 + tp)
            >= F.lit(tp) * (F.col("__na") + F.col("__nb")).cast("double")
        )
    # Cross-set pairs: verify once per representative pair, then expand
    # to every member combination (same exact jaccard by set identity).
    # Member ids interleave across sets, so re-orient with
    # least/greatest to keep the doc_a < doc_b contract.
    cross = (
        verified.select("__ma", "__mb", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.explode("__ma").alias("__da"), "__mb", "jaccard")
        .select("__da", F.explode("__mb").alias("__db"), "jaccard")
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "jaccard",
        )
    )
    # Within-set pairs: identical token sets are J=1.0 by construction —
    # no bucket join, no intersection; the guard keeps semantics exact
    # for a (degenerate) threshold > 1.
    within = (
        d.filter(F.col("__m") >= 2)
        .select(F.explode("__mem").alias("doc_a"), "__mem")
        .select("doc_a", F.explode("__mem").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.lit(1.0).alias("jaccard")
        )
        .filter(F.lit(1.0) >= F.lit(jaccard_threshold))
    )
    return cross.unionByName(within)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document, as one JVM-side expression.

    Each distinct token hashes to 64 bits (xxhash64); bit *i* of the
    signature is the sign of Σ over tokens of (±1 per token bit *i*).
    Pure higher-order expressions — no explode, no shuffle, no UDF.
    Returns (id_col, simhash: long).
    """
    # F.shiftright/shiftleft only take literal shift amounts in the
    # Python API; call_function reaches the SQL builtins, which accept a
    # column-valued shift (needed inside the per-bit lambdas).
    shr = lambda h, i: F.call_function("shiftright", h, i)  # noqa: E731
    shl = lambda h, i: F.call_function("shiftleft", h, i)  # noqa: E731

    words = distinct_tokens(F.col(text_col))
    hashes = F.transform(words, lambda w: F.xxhash64(w))
    # Majority vote for all 64 bit positions in ONE fold over the token
    # hashes: the accumulator is the 64-wide vote vector, each token
    # contributes ±1 per bit via zip_with, and the aggregate's finish
    # lambda packs the signs into the signature long. The previous
    # formulation folded `hashes` 64 times (one aggregate per bit),
    # re-evaluating the tokenize+hash transform inside every per-bit
    # lambda — identical votes, 64x the traversals.
    sig = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: F.when(
                    shr(h, i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
        lambda votes: F.aggregate(
            F.zip_with(
                votes,
                F.sequence(F.lit(0), F.lit(63)),
                lambda v, i: F.when(
                    v > 0, shl(F.lit(1).cast("long"), i)
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        ),
    )
    return df.select(F.col(id_col), sig.alias("simhash"))


def simhash_banded_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Blocking-free SimHash near-dup pairs via 16-bit chunk banding
    (the classic Manku/Google-dedup construction).

    Pigeonhole: two 64-bit signatures within Hamming distance ≤ 3 agree
    EXACTLY on at least one of four 16-bit chunks — so candidates are
    generated by an equi-join on (chunk_index, chunk_value), never an
    all-pairs comparison, and recall is 1.0 for ``max_hamming ≤ 3``
    (probabilistic above it). Verification is one XOR+popcount on the
    8-byte signatures.

    Scale: 4 rows/doc explode; the shuffle keys on (chunk, value) —
    2^16 values per chunk spread evenly by construction (signature bits
    are hash-sign votes); candidate rows carry 24 bytes. Quadratic cost
    only inside identical chunks, i.e. true near-dup neighborhoods.
    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, exactly once.
    """
    sigs = simhash_signatures(df, text_col, id_col).select(
        F.col(id_col).alias("__id"), F.col("simhash").alias("__sig")
    )
    return banded_hamming_pairs(
        sigs, max_hamming=max_hamming, max_bucket=max_bucket
    )


def banded_hamming_pairs(
    sigs: DataFrame, max_hamming: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """Near-dup pairs among 64-bit signatures via 16-bit chunk banding.

    Input: (__id, __sig: long). Pigeonhole: Hamming ≤ 3 ⇒ at least one
    of the four 16-bit chunks matches exactly, so candidates come from
    an equi-join on (chunk_index, chunk_value) — recall 1.0 for
    ``max_hamming ≤ 3``, probabilistic above. Shared by text SimHash and
    multimodal perceptual-hash dedup; scale properties as documented on
    ``simhash_banded_pairs``. ``max_bucket`` (opt-in, same mitigation
    as ``minhash_lsh_pairs``) skips (chunk, value) buckets with more
    than that many distinct signatures — a near-identical mega-cluster
    floods a chunk bucket quadratically; a signature in a skipped
    bucket still pairs through its other three chunks, and
    identical-signature pairs never enter the band join. Default None
    preserves exact pre-cap output. Returns (doc_a, doc_b, hamming)."""
    # IDENTICAL-SIGNATURE COLLAPSE (same argument as the exact-dup
    # collapse in minhash_lsh_pairs): exact duplicates share a
    # signature, collide in every chunk, and would push m·(m-1)/2 pairs
    # through the band join each. Group to one representative per
    # signature, band-join representatives, expand members afterwards:
    # within-signature pairs are Hamming 0 by construction, cross pairs
    # inherit the representatives' XOR popcount.
    # NULL signatures (e.g. null text -> null simhash) never paired
    # before the collapse (null chunk keys don't equi-join); filter them
    # so they don't collapse into one group and emit bogus hamming-0
    # pairs among themselves.
    g = (
        sigs.filter(F.col("__sig").isNotNull())
        .groupBy("__sig")
        .agg(
            F.min("__id").alias("__id"),
            F.collect_list("__id").alias("__mem"),
            F.count(F.lit(1)).alias("__m"),
        )
        .persist()
    )
    shr = lambda h, i: F.call_function("shiftright", h, i)  # noqa: E731
    chunks = g.select(
        "__id",
        "__sig",
        "__mem",
        F.posexplode(
            F.array(
                *[
                    shr(F.col("__sig"), F.lit(16 * i)).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("__chunk", "__val"),
    )
    if max_bucket is not None:
        # Eager-materialize the persisted collapse frame first — the
        # capped plan invites AQE broadcasts whose exchange futures
        # otherwise race to compute the cache serially (see
        # ngram_jaccard_pairs).
        g.count()
        sz = chunks.groupBy("__chunk", "__val").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        chunks = chunks.join(
            sz.filter(F.col("__bn") <= max_bucket).drop("__bn"),
            ["__chunk", "__val"],
        )
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig")))
    cross = (
        a.join(
            b,
            (F.col("a.__chunk") == F.col("b.__chunk"))
            & (F.col("a.__val") == F.col("b.__val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("__ra"),
            F.col("b.__id").alias("__rb"),
            F.col("a.__mem").alias("__ma"),
            F.col("b.__mem").alias("__mb"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # a pair within distance d agrees on >= 4-d chunks → appears up
        # to 4 times; dedup on the representative pair BEFORE expansion
        # (the smallest place)
        .dropDuplicates(["__ra", "__rb"])
        .select(F.explode("__ma").alias("__da"), "__mb", "hamming")
        .select("__da", F.explode("__mb").alias("__db"), "hamming")
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "hamming",
        )
    )
    within = (
        g.filter(F.col("__m") >= 2)
        .select(F.explode("__mem").alias("doc_a"), "__mem")
        .select("doc_a", F.explode("__mem").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).alias("hamming"))
        # keeps semantics exact for a (degenerate) negative max_hamming
        .filter(F.lit(0) <= F.lit(max_hamming))
    )
    return cross.unionByName(within)


def simhash_pairs(
    df: DataFrame,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance within a block.

    The join moves only (id, block, 8-byte signature) — at corpus scale
    the candidate join is tiny even when the corpus is not. For the
    blocking-free variant see ``simhash_banded_pairs``.
    Returns (doc_a, doc_b, hamming).
    """
    sigs = simhash_signatures(df, text_col, id_col).join(
        df.select(F.col(id_col), F.col(block_col).alias("__blk")), id_col
    )
    a = sigs.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "__blk"
    )
    b = sigs.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "__blk"
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["__blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def min_label_components(
    pairs: DataFrame,
    labels: DataFrame,
    max_iters: int = 6,
    require_convergence: bool = False,
) -> DataFrame:
    """Connected components by min-label propagation over an edge list
    (columns ``doc_a``, ``doc_b``); ``labels`` is the initial
    (node, lbl) frame — normally lbl = node for every node (singletons
    keep their own label). Converges in O(component diameter) rounds
    with early exit; near-dup clusters are dense (diameter ≈ 1-2), so
    ``max_iters`` is a safety bound.

    Scale: each round is one shuffle of (id, label) pairs over the edge
    list — the standard large-graph CC pattern (no driver-side graph).
    localCheckpoint (eager) truncates lineage: without it every round's
    logical plan embeds all previous rounds and Catalyst
    re-optimization time grows superlinearly (measured 65 s for 6
    rounds at sf0.01 vs ~8 s with checkpoints). The convergence check
    is a count() per round: acceptable because rounds are few and the
    check is a cheap aggregate. Returns (node, lbl).

    ``require_convergence=True`` makes ``max_iters`` a soft bound: if a
    component's diameter exceeds it, iteration continues (up to an 8×
    hard cap) until a round changes nothing, and raises if even the
    hard cap is hit — callers whose downstream logic relies on labels
    being the true component minimum (e.g. "the kept doc is never
    itself dropped") must not silently receive a half-propagated
    labeling.
    """
    # Checkpoint the initial labels first: the caller's frame carries
    # its full lineage (filters, windows, joins) and feeds two
    # consumers (the self-loop branch of the edge list and round 1's
    # join) — truncating here runs that lineage once.
    labels = labels.toDF("node", "lbl").localCheckpoint(eager=True)
    # Symmetrize and add one SELF-LOOP per node. The self-loops make
    # every node see its own current label through the join itself, so
    # each round is join + groupBy with `labels` appearing exactly ONCE
    # in the plan. The previous form unioned `labels` back in per round
    # ("incl. its own label"), putting the same checkpointed frame on
    # both sides of a Union — Spark 4.1's DeduplicateRelations
    # re-aliases the second occurrence's output but LogicalRDD keeps
    # its constraints under the OLD attribute ids, and
    # UnionBase.rewriteConstraints then dies with
    # 'NoSuchElementException: key not found: node#N' (reproduced with
    # a window-filtered corpus feeding near_dup_clusters). Self-loops
    # also guarantee isolated nodes keep a row in every round's output.
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .toDF("src", "dst")
        .union(labels.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        .localCheckpoint(eager=True)
    )
    hard_cap = max_iters * 8 if require_convergence else max_iters
    converged = False
    done = 0
    while done < hard_cap:
        # neighbor minimum: for each dst, the smallest label seen on any
        # incident src (incl. its own current label via the self-loop).
        # TWO propagation steps share one checkpointed job (r17): the
        # convergence count is the only action per round, so batching
        # halves the job barriers (and the checkpoint materializations)
        # without changing the result — min-label propagation is
        # monotone non-increasing, so a batch that changes nothing
        # proves the same fixed point a single no-change round does,
        # and steps past convergence are identities. The hard cap
        # counts STEPS, so a non-converged run still stops after
        # exactly the same number of propagations as the per-round
        # loop did (identical labels).
        # The convergence check rides INSIDE the same checkpointed plan
        # (r16): joining the pre-batch label in makes the check a
        # filter+count SCAN of the checkpointed rows — no second
        # shuffle job (the self-loops guarantee both frames cover
        # every node, so the inner join is total either way).
        n_steps = min(2, hard_cap - done)
        cur = labels
        for _ in range(n_steps):
            cur = (
                edges.join(cur, edges.src == cur.node)
                .select(F.col("dst").alias("node"), "lbl")
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            )
        stepped = (
            cur.join(labels.select("node", F.col("lbl").alias("__old")), "node")
            .select("node", "lbl", (F.col("lbl") != F.col("__old")).alias("__chg"))
        ).localCheckpoint(eager=True)
        done += n_steps
        changed = stepped.filter("__chg").count()
        labels = stepped.select("node", "lbl")
        if changed == 0:
            converged = True
            break
    if require_convergence and not converged:
        raise RuntimeError(
            f"min-label propagation did not converge within {hard_cap} "
            "rounds — component diameter is pathological for this graph"
        )
    return labels


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.9,
    max_iters: int = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end near-dup dedup: LSH pairs → connected components →
    keeper per cluster (what a training-data pipeline actually keeps).

    Components via min-label propagation over the pair graph: every doc
    starts labeled with its own id; each round joins labels across edges
    and keeps the minimum; converges in O(component diameter) rounds —
    near-dup clusters are dense (diameter ≈ 1-2), so ``max_iters=6`` is
    a safety bound, with early exit on a converged round.

    Scale: each round is one shuffle of (id, label) pairs over the edge
    list — the standard large-graph CC pattern (no driver-side graph).
    The convergence check is a count() per round: acceptable because
    rounds are few and the check is a cheap aggregate.
    ``max_bucket`` passes through to ``minhash_lsh_pairs``' hot-bucket
    cap — with it a skipped mega-cluster fragments into sub-clusters
    joined only by surviving-band edges, the accepted trade at
    boilerplate scale.
    Returns (doc_id, cluster_id, is_keeper) for EVERY input doc —
    singleton docs are their own cluster and keeper.
    """
    pairs = minhash_lsh_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
    ).select("doc_a", "doc_b")
    labels = min_label_components(
        pairs,
        df.select(F.col(id_col).alias("node"), F.col(id_col).alias("lbl")),
        max_iters=max_iters,
    )

    return labels.select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_keeper"),
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """PageRank over an undirected edge list (e.g. the near-dup graph)
    by power iteration — surfaces the most-connected documents of a
    duplication neighborhood (the canonical pick, or the boilerplate
    hub to drop).

    Spark shape: edges are symmetrized once and the degree-weighted
    edge frame is CHECKPOINTED once up front (r17) — it sits inside
    every iteration's join, so without the checkpoint the entire
    upstream pair pipeline (e.g. the banded-SimHash candidate
    generation feeding doc_dup_pagerank) was re-planned and re-executed
    by every iteration that crossed a materialization point (measured:
    26.3 s / 265 jobs -> one upstream pass). Each iteration is then one
    shuffle — contributions = ranks ⋈ out-degree-normalized edges, then
    a groupBy sum. Ranks localCheckpoint every few iterations with
    ``eager=False``: the plan is truncated immediately (Catalyst cost
    stays bounded) but materialization rides inside the next real job
    instead of paying a mid-loop barrier. Dangling nodes (none in a
    symmetrized graph) would redistribute uniformly. At scale, persist
    ranks partitioned on the node key so every iteration's join
    co-locates.

    Returns (doc_id, rank) summing to ~n_nodes.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    out = sym.join(deg, "src").localCheckpoint(eager=True)
    # distinct src of sym == deg's group keys, already inside `out` —
    # derive nodes from the checkpointed frame so the upstream pair
    # pipeline is never re-entered.
    nodes = out.select(F.col("src").alias("doc_id")).distinct()
    ranks = nodes.select("doc_id", F.lit(1.0).alias("rank"))
    for i in range(n_iter):
        contribs = (
            out.join(ranks, out.src == ranks.doc_id)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            nodes.join(contribs, nodes.doc_id == contribs.dst, "left")
            .select(
                "doc_id",
                (
                    (1.0 - damping)
                    + damping * F.coalesce(F.col("csum"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % 4 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("doc_id", F.round("rank", 6).alias("rank"))


def semantic_dedup(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 10,
    threshold: float = 0.95,
    nprobe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal in
    embedding space. KMeans coarse-clusters the corpus; each vector is
    assigned to its ``nprobe`` nearest cells (multi-probe soft
    assignment — a pair is checked if the two vectors share ANY probed
    cell, which recovers most near-dup pairs that a hard single
    assignment would split across a cell boundary); within each cell,
    every vector's best EARLIER neighbor at ``threshold`` cosine
    becomes an edge, and connected components over those edges pick
    ONE keeper per duplicate group (the minimum id — so ``dup_of`` is
    always itself kept, never a dropped vector, even when detections
    chain across cells).

    Scale shape: the O(n²) stage is confined to one cell at a time —
    pick k so nprobe·n/k vectors fit one Arrow batch (SemDeDup itself
    uses k≈50k for LAION-scale corpora). One KMeans fit, centroids
    shipped to executors in the mapInPandas closure (k×d floats), one
    shuffle on the cell id, per-cell numpy matmul inside
    ``applyInPandas``, then min-label components over the (tiny,
    drop-scale) edge list. No global all-pairs anywhere.

    Returns dropped vectors only: (vec_id, dup_of, via, cos) —
    ``dup_of`` is the kept representative of the duplicate group,
    ``via`` the directly-detected earlier near-duplicate (``cos`` is
    their exact similarity; via == dup_of when the detection is
    direct).
    """
    import numpy as np
    import pandas as pd

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..functions.vectors import as_double

    # Null vectors can be neither clustered nor cosine-compared: they
    # crash the KMeans fit (and the numpy assignment after it), so they
    # are excluded here with a pushable predicate — a document without
    # an embedding is never a semantic duplicate of anything (same
    # policy as every ANN entry point in operators/similarity.py).
    feats = embs.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"), as_double(vec_col).alias("__vec")
    )
    from ..ml.fitguard import fit_nonempty

    model = fit_nonempty(
        KMeans(
            k=k_clusters, seed=seed, featuresCol="__features", predictionCol="__cell"
        ),
        feats.withColumn("__features", array_to_vector("__vec")),
        "semantic_dedup",
        min_rows=k_clusters,
    )
    centroids = np.vstack([np.asarray(c, dtype="float64") for c in model.clusterCenters()])
    probes = min(nprobe, len(centroids))

    def assign(batches):
        for pdf in batches:
            mat = np.vstack(pdf["__vec"].to_numpy())
            # squared L2 to every centroid: ||x||² − 2x·c + ||c||²
            d2 = (
                -2.0 * (mat @ centroids.T)
                + (centroids**2).sum(axis=1)[None, :]
            )
            near = np.argsort(d2, axis=1)[:, :probes]
            yield pd.DataFrame(
                {
                    "__id": np.repeat(pdf["__id"].to_numpy(), probes),
                    "__vec": pdf["__vec"].iloc[
                        np.repeat(np.arange(len(pdf)), probes)
                    ].to_numpy(),
                    "__cell": near.ravel().astype("int64"),
                }
            )

    assigned = feats.mapInPandas(
        assign, "__id long, __vec array<double>, __cell long"
    )

    def detect_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        """Best earlier neighbor per vector within the cell (detection
        only — the keep/drop decision happens globally via components,
        so cross-cell chains cannot orphan a dropped vector)."""
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        mat = np.vstack(pdf["__vec"].to_numpy())
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        sims = unit @ unit.T
        ids = pdf["__id"].to_numpy()
        out_id, out_near, out_cos = [], [], []
        for i in range(1, len(ids)):
            s = sims[i, :i]
            j = int(np.argmax(s))
            if s[j] >= threshold:
                out_id.append(ids[i])
                out_near.append(ids[j])
                out_cos.append(round(float(s[j]), 6))
        return pd.DataFrame(
            {"vec_id": out_id, "near": out_near, "cos": out_cos}
        )

    detected = assigned.groupBy("__cell").applyInPandas(
        detect_cell, "vec_id long, near long, cos double"
    )
    # merge multi-probe detections: keep each vector's best direct edge
    best = (
        detected.groupBy("vec_id")
        .agg(F.max(F.struct("cos", "near")).alias("b"))
        .select(
            "vec_id",
            F.col("b.near").alias("near"),
            F.col("b.cos").alias("cos"),
        )
        .localCheckpoint(eager=True)
    )
    # one keeper per duplicate group: components over the (drop-scale)
    # edge list, labels seeded from edge endpoints only — vectors with
    # no near-dup edge stay out entirely (kept, not emitted)
    pairs = best.select(
        F.col("near").alias("doc_a"), F.col("vec_id").alias("doc_b")
    )
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select("doc_b"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    # require_convergence: the "dup_of is always kept" invariant below
    # only holds when labels reached the true component minimum — a
    # duplicate chain deeper than the iteration bound must extend the
    # propagation (or raise), never silently drop a keeper.
    comps = min_label_components(pairs, nodes, max_iters=8, require_convergence=True)
    return (
        best.join(comps, best.vec_id == comps.node)
        .select(
            "vec_id",
            F.col("lbl").alias("dup_of"),
            F.col("near").alias("via"),
            "cos",
        )
        # the component minimum is its own label — it is the keeper and
        # must not appear as a dropped row
        .filter(F.col("vec_id") != F.col("dup_of"))
    )
