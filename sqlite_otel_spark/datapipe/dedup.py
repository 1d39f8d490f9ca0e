"""Deduplication operators for a training-data pipeline (brief §datapipe):
exact, MinHash+LSH, SimHash, n-gram Jaccard. Spark-first designs:

 - exact dedup is a hash groupBy (one shuffle, map-side partial agg);
 - n-gram Jaccard materializes word-shingles (native split/transform/
   explode), self-joins on the shingle value and aggregates pair
   intersections — the join key is the shingle, so common shingles are
   the skew axis; at 100 TB you run MinHash-LSH first and feed only its
   candidate pairs into the exact-Jaccard verifier (``jaccard_pairs``
   accepts an optional candidate frame for exactly that);
 - MinHash signatures come from ONE explode + ONE groupBy computing all
   P permutation-mins as independent agg columns. Round 4: the per-doc
   shingle dedup moved INTO the row (array_distinct before explode), so
   the old dropDuplicates shuffle of the full shingle stream is gone —
   the only exchange left is the groupBy's map-side-combined partials
   (65 longs per doc per partition). A fully within-row form
   (array_min over transform) measured SLOWER — Catalyst evaluates
   higher-order lambdas interpreted, outside whole-stage codegen, while
   the exploded KM arithmetic + partial min stays codegen'd — and was
   deleted. LSH banding turns signatures into (band, band_hash) keys
   whose equality join yields candidates;
 - SimHash is a 64-column conditional bit-sum (explode + map-side
   partial agg; the within-row variant lost for the same reason and
   was deleted), near-dups found by 16-bit band equality then exact
   Hamming verification via bit_count(xor) — all JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlite_otel_spark.datapipe.text import (
    ensure_parallelism as _ensure_parallelism,
    tokens_col,
)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (fingerprint, n_docs, doc_ids)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def gram_array_from_tokens(toks, n: int = 3):
    """Word n-gram shingles from an ALREADY-BOUND token-array column.

    ``toks`` must be a plain column reference (not an inline
    ``tokens_col(text)`` expression): Catalyst evaluates higher-order
    lambdas interpreted with NO subexpression elimination, so an inline
    token expression is re-evaluated for EVERY element the lambda
    touches — n full-text regexp_extract_all scans per shingle (round-6
    thread dump: 32 tasks serialized on the JVM-global ClassValue lock
    inside RegExpExtractAll.nullSafeEval). Bound, the lambda body is n
    element_at lookups."""
    # guard: sequence(1, 0) would DESCEND in Spark; short docs get no shingles
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def gram_array(text, n: int = 3):
    """Word n-gram shingles of one document as a within-row array
    (duplicates kept; wrap in array_distinct for set semantics).
    Prefer projecting ``tokens_col(text)`` to a column first and calling
    ``gram_array_from_tokens`` — see its docstring for why."""
    return gram_array_from_tokens(tokens_col(text), n)


def shingles(df: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document (set semantics).
    array_distinct runs WITHIN the row (round 4), so the per-doc dedup
    costs no shuffle — the old explode + dropDuplicates shuffled the
    whole shingle stream; the explode remains only for join-shaped
    consumers (jaccard_pairs intersections, signature partial-aggs).
    Narrow inputs are spread first (the scan partitioning is the ONLY
    parallelism left once the dedup shuffle is gone). Tokenization is
    projected to a column in a SEPARATE select (round 6) so the regex
    runs once per row — CollapseProject keeps the projections apart
    because the token array is referenced several times."""
    toks = _ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.col(text_col)).alias("__toks"),
    )
    grams = F.array_distinct(gram_array_from_tokens(F.col("__toks"), n))
    return toks.select("doc_id", F.explode(grams).alias("shingle"))


def jaccard_pairs(sh: DataFrame, threshold: float = 0.6,
                  candidates: DataFrame | None = None,
                  sizes: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard over document pairs.

    Without ``candidates``: the full shingle self-join — correct but
    quadratic in co-shingle frequency (a stop-shingle explodes it);
    small-scale oracle use only.

    With ``candidates`` (doc_a, doc_b) — the scale path: intersections
    are computed candidate-driven, ``cand ⋈ sh(doc_a) ⋈ sh(doc_b,
    shingle)``, so the work is |candidates| x avg-shingles equi-joins
    and the all-pairs shingle self-join NEVER runs (a post-hoc semi-join
    on the self-join's output would still have materialized the
    explosion inside the join).

    ``sizes``: optional (doc_id, n_shingles) frame; pass one derived
    from an aggregation the plan already pays for (e.g.
    ``minhash_signatures(..., with_sizes=True)``) and the per-doc count
    pass over the shingle stream disappears (AQE reuses the shared
    exchange)."""
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    if candidates is not None:
        pairs = (
            F.broadcast(candidates.select("doc_a", "doc_b"))
            .join(a, "doc_a")
            .join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        pairs = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    else:
        sizes = sizes.select("doc_id", "n_shingles")
    return (
        pairs.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_shingles": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_shingles": "nb"}), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
    )


def md5hash60(col, salt: int | None = None):
    """Deterministic 60-bit hash computable IDENTICALLY in Spark and
    DuckDB (both have md5 + hex->int): the cross-engine-verifiable hash
    for the driver's DuckDB oracle gate. Spark:
    conv(substr(md5(x),1,15),16,10); DuckDB:
    CAST('0x' || substr(md5(x),1,15) AS BIGINT). ~3x slower than
    xxhash64 — the xxhash64 variants remain the scale default."""
    src = F.concat(col, F.lit(f"#{salt}")) if salt is not None else col
    return F.conv(F.substring(F.md5(src), 1, 15), 16, 10).cast("long")


_MOD60 = 1 << 60
_MASK60 = _MOD60 - 1
_MASK30 = (1 << 30) - 1


def km_hash_cols(col, num_perm: int) -> list:
    """Kirsch-Mitzenmacher hash family: h_i = (h1 + i*h2) mod 2^60 from
    TWO base md5 hashes instead of one md5 per permutation (the standard
    construction for MinHash families; preserves the min-wise estimate).
    Cuts the md5 count per shingle from num_perm to 2.

    Arithmetic (round 3): i*h2 reaches 2^66, past int64 — but the split
    h2 = hi*2^30 + lo makes every intermediate < 2^62, so the whole
    family runs in plain long whole-stage codegen with no DECIMAL(38)
    (the previous form; arbitrary-precision mult/mod dominated the
    signature projection) and no overflow even under ANSI mode:
      (i*h2) mod 2^60 = ((i*hi mod 2^30) << 30) + i*lo   [< 2^60 + 2^36]
    because (x*2^30) mod 2^60 = (x mod 2^30)*2^30; the final low-60-bit
    mask is exactly mod 2^60. Values are IDENTICAL to the DuckDB
    oracle's HUGEINT (h1 + i*h2) % 2^60 (parity-tested)."""
    h1 = md5hash60(col)
    h2 = md5hash60(F.concat(col, F.lit("#")))
    lo = h2.bitwiseAND(F.lit(_MASK30))
    hi = F.shiftright(h2, 30).bitwiseAND(F.lit(_MASK30))
    return [
        (
            h1
            + F.shiftleft((F.lit(i) * hi).bitwiseAND(F.lit(_MASK30)), 30)
            + F.lit(i) * lo
        ).bitwiseAND(F.lit(_MASK60)).alias(f"h{i}")
        for i in range(num_perm)
    ]


def minhash_signatures(sh: DataFrame, num_perm: int = 64,
                       hash_fn: str = "xxhash64",
                       with_sizes: bool = False) -> DataFrame:
    """P permutation minima as agg columns over one shuffle:
    h_i(doc) = min over shingles of hash(shingle, i).

    md5 mode pre-projects the TWO base hashes (h1, lo, hi) into columns
    before the aggregate (round 6): inlining ``km_hash_cols`` into the
    64 ``min`` expressions left one md5 pair per PERMUTATION in the
    generated aggregate update (codegen splits the 64-function update
    past the JIT limit, breaking cross-expression CSE) — measured 1.09 s
    -> 0.89 s for the signature pass at sf0.1.

    ``with_sizes=True`` additionally emits ``n_shingles`` (count per
    doc) from the SAME aggregation, so callers that need per-doc
    shingle sizes (jaccard_pairs) share this shuffle instead of running
    a second full pass over the shingle stream."""
    if hash_fn == "md5":
        h1 = md5hash60(F.col("shingle"))
        h2 = md5hash60(F.concat(F.col("shingle"), F.lit("#")))
        base = sh.select(
            "doc_id",
            h1.alias("__h1"),
            h2.bitwiseAND(F.lit(_MASK30)).alias("__lo"),
            F.shiftright(h2, 30).bitwiseAND(F.lit(_MASK30)).alias("__hi"),
        )
        aggs = [
            F.min(
                (
                    F.col("__h1")
                    + F.shiftleft(
                        (F.lit(i) * F.col("__hi")).bitwiseAND(F.lit(_MASK30)),
                        30,
                    )
                    + F.lit(i) * F.col("__lo")
                ).bitwiseAND(F.lit(_MASK60))
            ).alias(f"h{i}")
            for i in range(num_perm)
        ]
    else:
        base = sh
        aggs = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(num_perm)
        ]
    if with_sizes:
        aggs.append(F.count(F.lit(1)).alias("n_shingles"))
    return base.groupBy("doc_id").agg(*aggs)




def minhash_lsh_candidates(sig: DataFrame, bands: int = 16, rows: int = 4,
                           hash_fn: str = "xxhash64") -> DataFrame:
    """Band the signature (bands x rows = num_perm) and join docs whose
    band keys collide -> candidate near-dup pairs (doc_a < doc_b). The
    md5 mode uses the raw '_'-joined member hashes as the band key
    (equality is all banding needs; string keys reproduce in SQL)."""
    def band_key(b):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        if hash_fn == "md5":
            return F.concat_ws("_", *[c.cast("string") for c in cols])
        return F.xxhash64(*cols)

    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"), band_key(b).cast("string").alias("bh"))
        for b in range(bands)
    ])
    banded = sig.select("doc_id", F.explode(band_structs).alias("x")).select(
        "doc_id", "x.band", "x.bh"
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b) -> (doc_id, component) where
    component = the MINIMUM doc id reachable through the pair graph —
    the canonical cluster label a dedup keep/drop decision needs
    (emitting pairs alone under-deletes: A~B, B~C must collapse to one
    kept doc even when A~C was never emitted).

    Spark-first iterative min-label propagation WITH pointer jumping
    (ADVICE r3): labels start as the node id; each round every node
    (1) takes min(own label, neighbors' labels) via ONE equi-join +
    ONE groupBy, then (2) shortcuts label(x) := label(label(x)) via a
    second equi-join — the classic pointer-doubling step, so the
    distance to each component's minimum roughly doubles per round and
    a PATH of length L converges in O(log L) rounds (label deficit
    follows d_{r+1} >= 2*d_r + 1: max_iter=20 covers paths beyond 2^20
    nodes), not the O(diameter) of plain one-hop propagation.
    Star-like near-dup clusters still converge in 2-3 rounds. The
    convergence check is a count of changed labels — an action per
    round, which is how iterative algorithms on DataFrames work; every
    round's join keys are plain longs, no driver-side graph state.
    Caps at ``max_iter`` and raises if not converged. The fixpoint
    (min reachable id per node) is identical to one-hop propagation —
    only the round count changes."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .dropDuplicates()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .dropDuplicates()
        .withColumn("component", F.col("doc_id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        propagated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
        )
        # pointer jump: label(x) := label(label(x)). Every component
        # value is itself a node id (min over node ids seen so far),
        # so the lookup always resolves; coalesce guards regardless.
        jump_lookup = propagated.select(
            F.col("doc_id").alias("component"),
            F.col("component").alias("jump_to"),
        )
        new_labels = (
            propagated.join(jump_lookup, "component", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("jump_to"), F.col("component"))
                .alias("component"),
            )
        )
        # Truncate lineage every round: with pointer doubling each
        # round's logical plan embeds the previous round's plan TWICE,
        # so the tree grows exponentially and Catalyst canonicalization
        # overflows the JVM stack by ~round 10 even on tiny data — the
        # plan, not the data, is the scale constraint. localCheckpoint
        # materializes the round's labels and restarts the plan; a
        # deployment with preemptible executors would use reliable
        # checkpoint() (same contract, durable storage).
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def dedup_decisions(pairs: DataFrame) -> DataFrame:
    """Cluster the near-dup pair graph and decide keep/drop per doc:
    the component representative (min doc id) is kept, every other
    member drops — the standard representative-selection policy of a
    training-data dedup pass."""
    comp = connected_components(pairs)
    return comp.select(
        "doc_id", "component", (F.col("doc_id") == F.col("component")).alias("keep")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """n_bits SimHash over tokens (bag semantics): bit j of the
    fingerprint is the sign of sum over tokens of (+1 if bit j of
    hash(token) else -1). hash_fn='md5' gives the 60-bit cross-engine
    variant (md5hash60 reproduces in DuckDB for the oracle gate)."""
    df = _ensure_parallelism(df)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    if hash_fn == "md5":
        toks = toks.withColumn("th", md5hash60(F.col("tok")))
    else:
        toks = toks.withColumn("th", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(n_bits)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    fp = F.lit(0).cast("long")
    for j in range(n_bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(0)
        )
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_near_dups(fp: DataFrame, max_hamming: int = 3,
                      n_bits: int = 64) -> DataFrame:
    """Near-dup pairs by SimHash: candidate generation via equality on one
    of four (n_bits/4)-bit bands (any pair within Hamming<=3 must agree
    on >=1 band by pigeonhole), then exact Hamming verification with
    bit_count(xor)."""
    band_bits = n_bits // 4
    band_mask = (1 << band_bits) - 1
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit(band_mask)).alias("bh"),
        )
        for b in range(4)
    ])
    banded = fp.select("doc_id", "simhash", F.explode(bands).alias("x")).select(
        "doc_id", "simhash", "x.band", "x.bh"
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "band", "bh")
    b = banded.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
