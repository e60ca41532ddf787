"""Deduplication operators for training-data pipelines (SURVEY.md §2.14).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup, all expressed as
shuffle-conscious DataFrame plans:

- exact dedup = hash + groupBy (one shuffle on the hash);
- MinHash signatures are computed per-row with pure array expressions
  (NO explode — a 100 TB corpus never materializes its shingle set);
  only the narrow (id, band_key) table shuffles for the LSH bucket join;
- candidate pairs come from a self-equi-join on band keys, which AQE
  can skew-split when a band is hot.

The default hash is the md5-prefix 32-bit integer (functions/text.py)
so every step has a bit-identical DuckDB oracle; minhash_signatures
also offers a JVM-native xxhash64 fast path for production runs (same
collision behavior, no cross-engine parity).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from entwiner_spark.functions.expr import long_array_lit
from entwiner_spark.functions.text import (
    fingerprint,
    shingles,
    shingles_sql,
    stable_hash32,
    stable_hash32_sql,
    words,
)

MERSENNE_P = 2_147_483_647  # 2^31 - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical-row groups by normalized-text fingerprint.

    Returns (fp, canonical_id, n_copies); keep-policy = min id.
    One shuffle, partial-aggregated map-side.
    """
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per hash function — shared with oracles."""
    return [(1 + i * 7, 3 + i * 11) for i in range(k)]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    shingle_k: int = 3,
    hash_fn: str = "md5",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document MinHash signature as k scalar columns m0..m{k-1}.
    ``keep`` passes extra columns through unchanged (e.g. an event-time
    column a streaming consumer needs for its watermark).

    array_min over transformed shingles — order-insensitive, so no
    explode/shuffle; the whole signature is one narrow projection.
    The expensive shingle hash is materialized ONCE into an
    intermediate array column and each of the k permutations is a cheap
    affine transform over it (k-fold hash saving vs the naive form).

    ``hash_fn``: ``"md5"`` (default) is the cross-engine hash every
    DuckDB oracle reproduces bit-for-bit; ``"xxhash64"`` is the
    JVM-native fast path (~3x cheaper per shingle: one codegen'd hash
    vs md5 + hex substring + base conversion) for production runs
    where signatures never leave Spark.  Signature VALUES differ
    between the two; collision behavior (what LSH consumes) is
    equivalent.
    """
    if hash_fn == "md5":
        hasher_sql = stable_hash32_sql("s")
    elif hash_fn == "xxhash64":
        # fold the 64-bit hash into the same [0, 2^31-1) domain the
        # affine permutations expect; pmod keeps it non-negative
        hasher_sql = f"pmod(xxhash64(s), {MERSENNE_P})"
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    # whole signature assembled as SQL strings (functions/text.py
    # *_sql twins): the k-permutation fan-out made Column-API plan
    # construction a measured ~0.2 s/query of driver time; the parsed
    # trees — and every value — are identical
    hashed = (
        f"transform({shingles_sql(f'`{text_col}`', shingle_k)}, s -> {hasher_sql})"
    )
    base = df.select(
        F.col(id_col), *[F.col(c) for c in keep], F.expr(hashed).alias("_hs")
    )
    cols = [
        F.expr(
            f"array_min(transform(`_hs`, h -> ({a} * h + {b}) % {MERSENNE_P}))"
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    return base.select(F.col(id_col), *[F.col(c) for c in keep], *cols)


def band_keys(k: int, bands: int) -> list:
    """The LSH band-key expressions over signature columns m0..m{k-1}:
    ``bands`` concatenated slices of k/bands rows each.  Shared by the
    batch pair join and the streaming twin so both derive bit-identical
    bucket keys.

    With ``k // bands <= 2`` the keys are packed BIGINTs; older builds
    used ``concat_ws`` strings for every band width.  The
    ``stream_lsh_pairs`` join keys its state store on the band key, so
    a streaming query restarted from a checkpoint written with string
    keys fails the state-schema check: start it from a fresh
    checkpoint."""
    if k % bands != 0:
        raise ValueError(
            f"k={k} not divisible by bands={bands}: trailing signature "
            "rows would be silently ignored, lowering recall"
        )
    rows_per_band = k // bands
    if rows_per_band * 31 <= 63:
        # Shuffle fewer bytes (guide §2.3): each minhash component is
        # < 2^31 - 1 (mod MERSENNE_P), so up to two pack LOSSLESSLY
        # into one BIGINT — key equality is exactly component-tuple
        # equality, the same pairs as the concat_ws(":") string form,
        # but the band self-join exchanges 8 fixed bytes per row
        # instead of a 13-22 char string.
        def _packed(b: int):
            key = F.col(f"m{b * rows_per_band}").cast("long")
            for j in range(1, rows_per_band):
                key = F.shiftleft(key, 31) + F.col(f"m{b * rows_per_band + j}")
            return key

        return [_packed(b) for b in range(bands)]
    return [
        F.concat_ws(
            ":", *[F.col(f"m{b * rows_per_band + j}") for j in range(rows_per_band)]
        )
        for b in range(bands)
    ]


def _self_join_on_bands(
    banded: DataFrame, id_col: str, salt: int | None = None
):
    """Self-equi-join of a banded (id, band, key, ...) table producing
    each candidate pair (a.id < b.id) exactly once.

    ``salt=None`` leaves skew to AQE's skew-join split.  With
    ``salt=S`` the hot-bucket escalation documented in PLANS.md kicks
    in: the probe side's rows land in a deterministic sub-bucket
    (``xxhash64(id) % S``) and the build side replicates S-fold, so a
    bucket of B rows does B²/S work per task instead of B² in one —
    the replicate-small/salt-big pattern (operators/skew.py) adapted
    to a self-join.  Every pair still appears exactly once: the a-side
    row carries one salt value and the b-side copy with that value is
    unique.
    """
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if salt is None:
        return banded.alias("a").join(banded.alias("b"), cond)
    if salt < 2:
        raise ValueError(f"salt={salt}: need >= 2 sub-buckets to split a hot band")
    a = banded.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
    ).alias("a")
    b = banded.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    ).alias("b")
    return a.join(b, cond & (F.col("a._salt") == F.col("b._salt")))


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    salt: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Bands of k/bands rows each; band key is the concatenated signature
    slice.  The self-join runs on the tiny (id, band, key) projection.
    ``salt`` splits hot bands across tasks (see _self_join_on_bands) —
    the explicit escalation when AQE skew-splitting isn't enough.
    """
    keys = band_keys(k, bands)
    # posexplode over the key array: ONE pass over the signatures
    # produces all bands (a per-band union would re-scan — and
    # re-hash — the corpus once per band); the checkpoint materializes
    # the narrow (id, band, key) table so the self-join's two sides
    # don't each recompute the signature expressions
    banded = sig.select(
        F.col(id_col), F.posexplode(F.array(*keys)).alias("band", "key")
    ).localCheckpoint(eager=False)
    return (
        _self_join_on_bands(banded, id_col, salt=salt)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Per-document SimHash over word hashes, as a single integer.

    bit_j = sign of sum over words of (2*((H(w)>>j)&1) - 1), folded into
    an integer.  Computed with per-row array expressions (aggregate over
    the token array) — again no explode.
    """
    # hash each word ONCE, expand to its signed bit vector, then a
    # single fold with an array<long> accumulator (a per-bit aggregate
    # would re-hash the token array once per bit).  Assembled as SQL
    # strings: the bits x words expression fan-out made Column-API
    # construction the dominant cost of the whole query (d4 bench:
    # 0.39 s build vs 0.20 s execute); parsed trees/values identical.
    hashed = f"transform(split(`{text_col}`, ' '), s -> {stable_hash32_sql('s')})"
    bitvec = ", ".join(
        f"CAST((shiftright(h, {j}) & 1) * 2 - 1 AS BIGINT)" for j in range(bits)
    )
    zero = ", ".join("CAST(0 AS BIGINT)" for _ in range(bits))
    sums = (
        f"aggregate(transform({hashed}, h -> array({bitvec})), array({zero}), "
        "(acc, bv) -> zip_with(acc, bv, (a, b) -> a + b))"
    )
    base = df.select(F.col(id_col), F.expr(sums).alias("_bs"))
    value = "CAST(0 AS BIGINT)" + "".join(
        f" + (CASE WHEN element_at(`_bs`, {j + 1}) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return base.select(F.col(id_col), F.expr(value).alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    salt: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding makes this a bucket join, not an all-pairs scan:
    split the ``bits``-bit simhash into ``max_hamming + 1`` chunks — any
    pair within the distance budget must agree EXACTLY on at least one
    chunk — so candidates come from a self-equi-join on (band, chunk
    value) and only the exact ``bit_count(xor)`` refine runs per
    candidate.  Same shuffle discipline as MinHash-LSH: the banded
    (id, simhash, band, key) table is narrow, and hot buckets fall
    under the same AQE-skew/salting mitigation ladder.
    """
    if bits <= max_hamming:
        raise ValueError(
            f"bits={bits} must exceed max_hamming={max_hamming}: every "
            "pair would be a candidate"
        )
    sh = simhash(df, text_col, id_col, bits)
    chunks = max_hamming + 1
    width = bits // chunks
    keys = []
    for j in range(chunks):
        lo = j * width
        w = bits - lo if j == chunks - 1 else width
        keys.append(
            F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << w) - 1))
        )
    banded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*keys)).alias("band", "key"),
    ).localCheckpoint(eager=False)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        _self_join_on_bands(banded, id_col, salt=salt)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Pairwise word-set Jaccard similarity >= threshold (id_a < id_b).

    O(n^2) cross join — the exact baseline for small candidate sets;
    at scale use lsh_candidate_pairs first and Jaccard only as the
    verify step on candidates.
    """
    toks = df.select(
        F.col(id_col), F.array_distinct(words(F.col(text_col))).alias("ws")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    union = F.size(F.col("a.ws")) + F.size(F.col("b.ws")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_clusters(pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Transitive dedup clustering: candidate pairs -> connected
    components -> one canonical doc per cluster.

    The step that turns pairwise near-dup evidence (LSH / SimHash /
    Jaccard pairs) into a keep/drop decision: docs A-B and B-C
    duplicated pairwise belong to ONE cluster {A,B,C} even if A-C was
    never a candidate.  Components come from the star-contraction CC
    (O(log² n) rounds — no path-length dependence on chain-shaped
    clusters); the canonical id is the numeric minimum per cluster,
    independent of CC's internal label choice.

    Returns one row per clustered doc: (id, canonical_id,
    cluster_size).  Docs with no near-dup partner are absent — they
    keep themselves by definition.
    """
    from entwiner_spark.operators.graph import SparkGraph

    # CC runs over string node labels; remember the caller's id type so
    # the output casts back to it (hard-coding "long" would NULL out
    # every id for a string-keyed corpus).
    _id_type = pairs.schema["id_a"].dataType
    # Lazy checkpoint: everything below probes this pair set several
    # times (local-size probe, or the distributed path's edge-count
    # dispatch + node derivation + star-contraction rounds), and each
    # probe would otherwise re-execute the caller's ENTIRE
    # candidate+refine pipeline — measured 3 full re-runs on the ER
    # pipeline (guide §1.2 "don't compute things you throw away").
    # eager=False keeps construction action-free; the first action
    # materializes the (small, post-refinement) pair set once and every
    # later pass reads it back.
    pairs_ck = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    spark = pairs_ck.sparkSession
    # Local twin (the SparkGraph LOCAL_THRESHOLD discipline): the pair
    # set is the post-refinement RESIDUE — tiny next to the corpus —
    # and every node the CC needs is a pair endpoint, so one BOUNDED
    # collect replaces the graph path's count + nodes-collect +
    # triples-collect + canon join (each a separate driver job; the
    # dispatch overhead dominated the ER pipeline's wall time).
    # limit(T+1) costs at most T+1 rows regardless of pair count; an
    # over-threshold residue falls through to the distributed CC.
    head = pairs_ck.limit(SparkGraph.LOCAL_THRESHOLD + 1).collect()
    if len(head) <= SparkGraph.LOCAL_THRESHOLD:
        # union-find with canonical = min (Python min == Spark min for
        # the id types at hand: numeric order for numbers, UTF-8
        # code-point order for strings)
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in head:
            a, b = r["id_a"], r["id_b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_min: dict = {}
        members: dict = {}
        for n in parent:
            r0 = find(n)
            comp_min[r0] = min(comp_min.get(r0, n), n)
            members.setdefault(r0, []).append(n)
        schema = T.StructType(
            [
                T.StructField(id_col, _id_type, False),
                T.StructField("canonical_id", _id_type, False),
                T.StructField("cluster_size", T.LongType(), False),
            ]
        )
        rows = [
            (n, comp_min[r0], len(ms))
            for r0, ms in members.items()
            for n in ms
        ]
        return spark.createDataFrame(rows, schema)
    e = pairs_ck.select(
        F.col("id_a").cast("string").alias("_u"),
        F.col("id_b").cast("string").alias("_v"),
    )
    nodes = (
        e.select(F.col("_u").alias("_n"))
        .unionByName(e.select(F.col("_v").alias("_n")))
        .distinct()
    )
    cc = SparkGraph(nodes, e).connected_components(max_iterations=50)
    m = cc.select(
        F.col("_n").cast(_id_type).alias(id_col), F.col("component").alias("_comp")
    )
    canon = m.groupBy("_comp").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return m.join(canon, "_comp").select(id_col, "canonical_id", "cluster_size")


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT word-set Jaccard pairs >= threshold WITHOUT the all-pairs
    scan — the scale path that replaces ngram_jaccard_pairs' O(n²)
    cross join (kept as the brute-force baseline it is verified
    against).

    PPJoin-style prefix filtering: order each token set by a global
    deterministic order (xxhash64 — uniform, needs no vocabulary
    pass), keep only the first ``|A| - ceil(t*|A|) + 1`` tokens as the
    join prefix.  If J(A,B) >= t the intersection has > |A| - prefix_A
    elements, so at least one must land in the prefix — candidates
    from the prefix-token equi-join are a provable superset of the
    answer.  Size filtering (t*|A| <= |B| <= |A|/t) prunes further in
    the join condition.  The exact array_intersect refine runs only on
    candidates.  Shuffles: one explode-join on the narrow
    (id, sz, token) prefix table + two id-joins for the verify — all
    equi-joins AQE can skew-split; no cross product anywhere.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold={threshold} must be in (0, 1]")
    toks = (
        df.select(
            F.col(id_col), F.array_distinct(words(F.col(text_col))).alias("ws")
        )
        .withColumn("sz", F.size("ws"))
        .filter(F.col("sz") > 0)
        .localCheckpoint(eager=False)
    )
    # canonical global token order: (xxhash64(token), token)
    ordered = F.transform(
        F.array_sort(
            F.transform(
                F.col("ws"),
                lambda w: F.struct(F.xxhash64(w).alias("h"), w.alias("w")),
            )
        ),
        lambda s: s["w"],
    )
    # Candidate-stage bounds get 1e-9 slack so float rounding can never
    # drop a boundary pair with J == t (e.g. t=0.55, |A|=20: fl(0.55)*20
    # is a hair above 11, which would both fail the size filter and
    # shorten the prefix for an exact-threshold 11-word subset).  The
    # exact rounded refine below stays the only strict gate.
    _EPS = 1e-9
    prefix_len = (
        F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(_EPS)).cast("int")
        + 1
    )
    prefix = toks.select(
        F.col(id_col),
        F.col("sz"),
        F.explode(F.slice(ordered, F.lit(1), prefix_len)).alias("tok"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    t = F.lit(threshold)
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # size filter: t*|A| <= |B| and t*|B| <= |A| (epsilon-slack)
            & (F.col("b.sz") >= t * F.col("a.sz") - F.lit(_EPS))
            & (F.col("a.sz") >= t * F.col("b.sz") - F.lit(_EPS)),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    wa = toks.select(F.col(id_col).alias("id_a"), F.col("ws").alias("ws_a"))
    wb = toks.select(F.col(id_col).alias("id_b"), F.col("ws").alias("ws_b"))
    inter = F.size(F.array_intersect(F.col("ws_a"), F.col("ws_b")))
    union = F.size(F.col("ws_a")) + F.size(F.col("ws_b")) - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def word_ngrams(text_col, n: int):
    """Distinct word n-grams of a text column as array<string>.

    Built with transform(sequence)+slice over the LET-BOUND token
    array (functions/expr.py: without the binding, the split
    re-evaluates per gram element — O(words^2) per row; measured
    3.4 s -> 0.6 s for 3-grams over sf0.1 documents, identical
    output).  Per-row array expressions, no intermediate explode, so
    a 100 TB corpus computes its gram sets inside whole-stage codegen
    and only explodes where a join needs one gram per row.
    """
    from entwiner_spark.functions.expr import let_bound

    def _grams(w):
        grams = F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        )
        return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return let_bound(words(text_col), _grams)


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-contamination detection: word n-gram collisions
    between a training corpus and an evaluation/benchmark set.

    The standard decontamination step for LLM training data: a
    training document that shares a long-enough word n-gram with a
    benchmark document is flagged (GPT-3/C4-style 8-13 gram overlap).

    Plan shape: both sides reduce to narrow (id, gram) tables (grams
    computed per-row, deduped per-doc BEFORE the explode), the
    benchmark side — typically a few thousand docs — broadcasts, so
    the corpus never shuffles: flagging 100 TB is one broadcast-join
    map pass plus the per-doc groupBy.  With a large benchmark set
    disable the broadcast and the equi-join shuffles on the gram.

    Returns one row per contaminated corpus doc: ``n_shared_grams``
    (distinct colliding grams) and ``n_benchmark_docs`` (distinct
    benchmark docs hit).
    """

    def gram_rows(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
        )

    c = gram_rows(corpus, id_col)
    b = gram_rows(benchmark, "_bench_id")
    if broadcast_benchmark:
        b = F.broadcast(b)
    joined = c.join(b, "gram").groupBy(id_col)
    if corpus.isStreaming:
        # Structured Streaming forbids DISTINCT aggregations; the
        # collect_list + array_distinct form is exact and streaming-
        # legal (state per contaminated doc = its colliding grams,
        # bounded by doc length).  Batch keeps count_distinct below —
        # partial aggregation without materializing gram lists.
        return joined.agg(
            F.array_distinct(F.collect_list("gram")).alias("_grams"),
            F.array_distinct(F.collect_list("_bench_id")).alias("_bids"),
        ).select(
            id_col,
            F.size("_grams").cast("long").alias("n_shared_grams"),
            F.size("_bids").cast("long").alias("n_benchmark_docs"),
        )
    return joined.agg(
        F.count_distinct("gram").alias("n_shared_grams"),
        F.count_distinct("_bench_id").alias("n_benchmark_docs"),
    )


def dup_ngram_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Cross-document duplicate n-gram coverage: per document, the
    fraction of its word n-gram POSITIONS whose gram also appears in at
    least one other document — the span-level duplication metric behind
    exact-substring dedup of training corpora (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better";
    RefinedWeb/Gopher report the same statistic).  Unlike d5's
    set-Jaccard this counts positional occurrences, so boilerplate
    repeated WITHIN one doc and ACROSS docs weighs accordingly.

    Plan shape at 100 TB: grams are hashed per-row to 32-bit BEFORE the
    explode, so only narrow (id, gram_hash) rows ever shuffle; the
    doc-frequency table comes from the deduped (id, gh) pairs with
    partial map-side aggregation; duplicated positions are marked by a
    gram-keyed equi-join (both sides partitioned on gh — no broadcast
    assumption, the duplicated-gram set can be corpus-scale); one final
    per-doc aggregate.  Docs shorter than ``n`` words surface with
    n_grams = 0 via the left join from the id spine.

    Returns (id_col, n_grams, n_dup, dup_frac) — dup_frac rounded to
    6 dp for cross-engine determinism.
    """
    from entwiner_spark.functions.expr import let_bound

    def _gram_hashes(w):
        # let-bound: split once per row, not once per gram
        hashes = F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: stable_hash32(F.array_join(F.slice(w, i, n), " ")),
        )
        return F.when(F.size(w) >= n, hashes).otherwise(
            F.array().cast("array<long>")
        )

    occ = df.select(
        F.col(id_col),
        F.explode(let_bound(words(F.col(text_col)), _gram_hashes)).alias("gh"),
    )
    dup = (
        occ.distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") >= 2)
        .select("gh", F.lit(1).alias("_dup"))
    )
    agg = (
        occ.join(dup, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_grams"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("_n_dup"),
        )
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("_n_dup"), F.lit(0)).cast("long").alias("n_dup"),
            F.round(
                F.when(
                    F.coalesce(F.col("_n_grams"), F.lit(0)) > 0,
                    F.coalesce(F.col("_n_dup"), F.lit(0)).cast("double")
                    / F.col("_n_grams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 3,
    block_prefix: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    classic record-linkage candidate generator, complementing the
    hash-family blockers (MinHash-LSH, SimHash bands): records sorted
    by a normalized key, every pair within a sliding window of
    ``window`` positions becomes a candidate.

    Spark-first scale shape: a literal global sort would serialize
    into one partition, so the sort runs WITHIN blocks — the first
    ``block_prefix`` chars of the key partition the data (records
    whose keys differ in the prefix can't be near neighbors in the
    sorted order anyway), the per-block window is a parallel
    lead()-chain (no self-join), and pairs are canonicalized
    least/greatest.  Output: ``(id_a, id_b, block)``.
    """
    from entwiner_spark.functions.text import normalized_text
    from pyspark.sql import Window

    if window < 2:
        raise ValueError("window must be >= 2")
    key = normalized_text(F.col(text_col))
    b = docs.select(
        F.col(id_col),
        key.alias("_key"),
        F.substring(key, 1, block_prefix).alias("block"),
    )
    w = Window.partitionBy("block").orderBy("_key", id_col)
    leads = b.select(
        F.col(id_col),
        "block",
        *[F.lead(F.col(id_col), k).over(w).alias(f"_n{k}") for k in range(1, window)],
    )
    parts = [
        leads.filter(F.col(f"_n{k}").isNotNull()).select(
            F.least(F.col(id_col), F.col(f"_n{k}")).alias("id_a"),
            F.greatest(F.col(id_col), F.col(f"_n{k}")).alias("id_b"),
            "block",
        )
        for k in range(1, window)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact duplicate-SPAN removal (Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" — the substring-dedup
    step; d10/`dup_ngram_coverage` only MEASURES duplication, this
    produces the cleaned corpus): every word position covered by a
    duplicated ``k``-gram occurrence that is not the gram's
    corpus-FIRST occurrence (ordered by ``(doc_id, position)``) is
    dropped; the first occurrence survives, so shared boilerplate
    remains exactly once corpus-wide.

    Plan shape at 100 TB: grams are built MAP-ONLY per row (let-bound
    slice transform — no token-level window sort; the d10 idiom with
    raw strings); the corpus-first occurrence per gram is a
    ``groupBy(gram).min(struct(doc, start))`` — a partial-aggregable
    min, deliberately NOT a per-gram ``row_number`` window, because
    hot boilerplate grams would funnel corpus-scale occurrence lists
    into single window partitions; removal positions come from a
    bounded ``sequence`` explode (k rows per duplicate occurrence) and
    one (doc, pos)-keyed left join; one final per-doc aggregate
    re-assembles the text.  Grams
    join by their raw string (exact semantics — no hash-collision
    false removals); for extreme scale swap the key for xxhash64 and
    accept the 2^-64 collision budget.

    Returns ``(id_col, n_tokens, n_removed, clean_text)``.
    """
    from entwiner_spark.functions.expr import let_bound

    warr = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    toks = df.select(
        F.col(id_col), F.posexplode(warr).alias("pos", "tok")
    )

    def _grams(w):
        # let-bound: split once per row; grams as (start, string)
        # structs via slice — map-only, no token-level window sort
        g = F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.struct(
                i.cast("long").alias("st"),
                F.concat_ws(
                    "\x1f", F.slice(w, i + 1, k)
                ).alias("gram"),
            ),
        )
        return F.when(F.size(w) >= k, g).otherwise(
            F.array().cast("array<struct<st:long,gram:string>>")
        )

    occ = df.select(
        F.col(id_col), F.explode(let_bound(warr, _grams)).alias("_g")
    ).select(id_col, F.col("_g.st").alias("st"), F.col("_g.gram").alias("gram"))
    firsts = occ.groupBy("gram").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("st").alias("s"))).alias(
            "_first"
        )
    )
    dup = occ.join(firsts, "gram").filter(
        ~(
            (F.col(id_col) == F.col("_first.d"))
            & (F.col("st") == F.col("_first.s"))
        )
    )
    dpos = dup.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("st"), F.col("st") + (k - 1))).alias("pos"),
    ).distinct()
    marked = toks.join(
        dpos.withColumn("_rm", F.lit(True)), [id_col, "pos"], "left"
    )
    kept_struct = F.when(
        F.col("_rm").isNull(), F.struct("pos", "tok")
    )  # collect_list drops the NULL (removed) slots
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_rm").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )


def _bloom_pos(col, i: int, num_bits: int):
    """Bit position for hash slot ``i``: xxhash64 over (value, slot) —
    k independent hash functions from one JVM-native hash family."""
    return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(num_bits))


def bloom_build(
    df: DataFrame,
    col: str = "text",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Aggregate a column into a Bloom-filter bitmap: DataFrame
    ``(word long, bits long)`` — word ``w`` holds bits
    ``[64w, 64w+64)``; absent words are all-zero.

    The 100 TB membership primitive (no reference analogue — the
    LLM-pipeline family): benchmark/blocklist membership tests that
    neither shuffle nor broadcast the corpus.  Build plan: each member
    row emits ``num_hashes`` narrow (word, mask) pairs, then ONE
    groupBy(word).bit_or — partial aggregation combines map-side, so
    the exchange carries at most ``num_bits/64`` rows per task
    regardless of member count.  Bitmaps MERGE by construction
    (union + the same bit_or groupBy): per-partition / per-day blooms
    roll up without touching raw data.

    Sizing: false-positive rate ≈ (1 - e^(-kn/m))^k for n members,
    m bits, k hashes — the default 2^20 bits / k=5 holds ~87k members
    at 1% FPR; there are NO false negatives at any size.  ``num_bits``
    must be a multiple of 64 (whole words).
    """
    if num_bits % 64 or num_bits <= 0:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    c = F.col(col)
    slots = []
    for i in range(num_hashes):
        pos = _bloom_pos(c, i, num_bits)
        slots.append(
            F.struct(
                (pos / 64).cast("long").alias("word"),
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    F.pmod(pos, F.lit(64)).cast("int"),
                ).alias("mask"),
            )
        )
    return (
        df.filter(c.isNotNull())
        .select(F.explode(F.array(*slots)).alias("s"))
        .groupBy(F.col("s.word").alias("word"))
        .agg(F.bit_or("s.mask").alias("bits"))
    )


def bloom_bitmap(bloom: DataFrame, num_bits: int = 1 << 20) -> list[int]:
    """Collect a ``bloom_build`` result into a dense driver-side word
    list (``num_bits/64`` longs — 2^20 bits = 16,384 longs = 128 KB).
    This is the ONLY driver materialization in the bloom path and its
    size is fixed by ``num_bits``, never by data volume."""
    dense = [0] * (num_bits // 64)
    for r in bloom.collect():
        dense[r["word"]] = r["bits"]
    return dense


def bloom_contains(
    col,
    bitmap: list[int],
    num_hashes: int = 5,
) -> "F.Column":
    """Map-only membership test Column against a driver-held bitmap
    (from :func:`bloom_bitmap`): True = *possibly* a member (bounded
    false-positive rate), False = DEFINITELY not a member.  The bitmap
    ships as one array literal in the plan (fixed 8·len bytes — 128 KB
    at the default sizing), so filtering a 100 TB corpus is a pure
    scan-side predicate: zero shuffle, zero join, wholestage codegen.
    For bitmaps too big to inline (≥ tens of MB), keep the
    ``bloom_build`` frame distributed and broadcast-join on ``word``
    instead — same semantics, one small join."""
    num_bits = 64 * len(bitmap)
    arr = long_array_lit(bitmap)
    cond = None
    for i in range(num_hashes):
        pos = _bloom_pos(col, i, num_bits)
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
        )
        hit = word.bitwiseAND(mask) != 0
        cond = hit if cond is None else (cond & hit)
    return cond


def bloom_contamination(
    corpus: DataFrame,
    members: DataFrame,
    col: str = "text",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Flag corpus rows whose ``col`` value is (probably) in the member
    set — the scale path for exact-match decontamination (the n-gram
    variant is :func:`contamination_overlap`).  Guaranteed superset of
    the true members (no false negatives); verify-stage the flagged
    slice with an exact semi-join when exactness matters — at a 1% FPR
    that join touches ~1% of the corpus instead of all of it."""
    bm = bloom_bitmap(bloom_build(members, col, num_bits, num_hashes), num_bits)
    return corpus.filter(bloom_contains(F.col(col), bm, num_hashes))
