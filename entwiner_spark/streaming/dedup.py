"""Streaming twins of the dedup signature / LSH family (§2.12
superset over the reference, which has no streaming surface).

The signature operators (minhash/simhash) are stateless per-row
expression work, so the BATCH operators run unchanged on streams —
tests assert bit-identical stream==batch signatures.  The candidate-
pair step is genuinely stateful: a document must pair with EARLIER
documents that share a band key.  ``stream_lsh_pairs`` expresses that
as a watermarked stream-stream self-join on (band, key), the
Structured-Streaming-native form: Spark's join state store retains
each band bucket only until the watermark passes, so state size is
bounded by (arrival rate x watermark window), independent of corpus
size — the property a continuous 100 TB ingest needs.  A cross-band
duplicate pair (two docs agreeing on several bands) is collapsed by
``dropDuplicatesWithinWatermark``, the streaming analogue of the batch
path's ``distinct()``.

Scale note: the join state key is the narrow (band, key) bucket and
rows are ~40-byte (id, band, key, ts) tuples — the same
only-the-projection-shuffles discipline as the batch path
(operators/dedup.py lsh_candidate_pairs).  Hot-band salting is a
batch-side escalation; under streaming the watermark window already
caps per-bucket membership, so salting is deliberately not offered
here until a real workload shows a hot bucket within one window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entwiner_spark.operators.dedup import band_keys, minhash_signatures


def stream_lsh_pairs(
    docs: DataFrame,
    time_col: str = "ts",
    watermark: str = "10 minutes",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup candidate pairs over a document STREAM.

    Emits (id_a, id_b, ts) with id_a < id_b for every pair of documents
    that share >= 1 MinHash band key and arrive within ``watermark`` of
    each other; each pair exactly once (append output mode).  Band keys
    are derived with the same expressions as the batch
    ``lsh_candidate_pairs``, so a pair the stream emits is exactly a
    pair the batch job would find on the same data.  Checkpoints from
    builds that used string band keys for ``k // bands <= 2`` are not
    state-compatible (see ``band_keys``); restart such a query from a
    fresh checkpoint.

    ``ts`` on the output row is the lower-id side's arrival time (kept
    verbatim so it remains the event-time column for downstream
    watermarked operators).
    """
    sig = minhash_signatures(
        docs,
        text_col=text_col,
        id_col=id_col,
        k=k,
        shingle_k=shingle_k,
        hash_fn=hash_fn,
        keep=(time_col,),
    )
    banded = sig.select(
        F.col(id_col),
        F.col(time_col),
        F.posexplode(F.array(*band_keys(k, bands))).alias("band", "key"),
    ).withWatermark(time_col, watermark)

    a, b = banded.alias("a"), banded.alias("b")
    delta = F.expr(f"INTERVAL {watermark}")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # time-range bound on BOTH sides: lets Spark evict join state
        # as the watermark advances instead of keeping buckets forever
        & (F.col(f"b.{time_col}") >= F.col(f"a.{time_col}") - delta)
        & (F.col(f"b.{time_col}") <= F.col(f"a.{time_col}") + delta),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        # project the a-side event-time column AS-IS: a derived column
        # (e.g. greatest(a.ts, b.ts)) would lose the event-time marker
        # and break the downstream within-watermark dedup
        F.col(f"a.{time_col}").alias(time_col),
    )
    # collapse multi-band agreement to one row per pair (batch path's
    # distinct()); the upstream watermark propagates through the join,
    # so the dedup operator's state is watermark-bounded too
    # (re-declaring the watermark here is disallowed in Spark 4)
    return pairs.dropDuplicatesWithinWatermark(["id_a", "id_b"])


def stream_sorted_neighborhood(
    docs: DataFrame,
    window: int = 3,
    block_prefix: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ``operators.dedup.sorted_neighborhood_pairs``
    (Hernández-Stolfo blocking on a document STREAM): per block (the
    first ``block_prefix`` chars of the normalized key), an arriving
    record is inserted into the block's sorted key order and paired
    with its ``window - 1`` nearest neighbors on EACH side at
    insertion time.  Output ``(id_a, id_b, block)``, id_a < id_b,
    append mode, each pair at most once (a pair is emitted only when
    its later-arriving member inserts).

    Semantics vs batch: when a microbatch's records are processed in
    sorted (key, id) order — in particular when everything arrives in
    one batch — insertion always appends *after* the existing
    neighborhood, and the emitted set EQUALS the batch lead-chain
    pairs exactly (asserted in tests).  Across out-of-order
    microbatches the stream emits a SUPERSET: a record inserted
    *between* two earlier records adds its own neighborhood but
    cannot retract pairs that were window-adjacent before the insert
    — the right bias for a candidate generator (recall is preserved;
    the verify stage prunes).

    Scale shape: state is one sorted (keys, ids) pair of arrays per
    block — the block is the partition unit exactly as in the batch
    operator, so skew behavior matches; keys within a block share a
    ``block_prefix``-char prefix by construction, bounding state to
    the block's membership.  The normalized key and block are derived
    with the SAME Catalyst expressions as the batch path before the
    Python boundary; only the windowed insert runs in pandas.
    """
    from bisect import bisect_left

    from collections.abc import Iterable, Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from entwiner_spark.functions.text import normalized_text

    if window < 2:
        raise ValueError("window must be >= 2")
    key = normalized_text(F.col(text_col))
    b = docs.select(
        F.col(id_col),
        key.alias("_key"),
        F.substring(key, 1, block_prefix).alias("block"),
    )
    id_type = docs.schema[id_col].dataType.simpleString()

    def update(
        key_tuple: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (keys, ids) = state.get if state.exists else ([], [])
        order = [(k, i) for k, i in zip(keys, ids)]
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["_key", id_col])
        out_a, out_b = [], []
        for k, i in zip(rows["_key"], rows[id_col]):
            item = (k, i)
            # bisect gives the exact slot; order.index would rescan
            # O(m) and, under a duplicate (key, id) arrival, return
            # the EARLIER copy's slot and pair the row with itself
            pos = bisect_left(order, item)
            if pos < len(order) and order[pos] == item:
                # replayed (key, id) — an at-least-once source
                # redelivered a row already in state.  Inserting a
                # second copy would pair it with the first (a
                # self-pair the batch twin never emits); skipping
                # keeps the update idempotent.
                continue
            order.insert(pos, item)
            for nb in range(max(0, pos - window + 1), min(len(order), pos + window)):
                if nb == pos:
                    continue
                other = order[nb][1]
                out_a.append(min(i, other))
                out_b.append(max(i, other))
        state.update(([k for k, _ in order], [i for _, i in order]))
        yield pd.DataFrame(
            {
                "id_a": out_a,
                "id_b": out_b,
                "block": [key_tuple[0]] * len(out_a),
            }
        )

    return b.groupBy("block").applyInPandasWithState(
        update,
        outputStructType=(
            f"id_a {id_type}, id_b {id_type}, block string"
        ),
        stateStructType=f"ks array<string>, vs array<{id_type}>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming URL-level dedup (r12 — the continuous-crawl twin of
    batch ``normalize_url`` + groupBy): canonicalize each record's URL
    with the SAME Catalyst expression as batch (stateless — streams run
    it unchanged), then keep the first record per canonical URL.  With
    ``ts_col`` the keep-one state expires at the watermark
    (``dropDuplicatesWithinWatermark`` — state bounded by arrival rate
    × window, the crawl-frontier "seen recently" semantics); without
    it, batch-mode ``dropDuplicates`` (exact global keep-one, tests).
    Adds ``url_norm``; keeps every input column."""
    from entwiner_spark.functions.text import normalize_url

    out = docs.withColumn("url_norm", normalize_url(F.col(url_col)))
    if ts_col is not None:
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["url_norm"]
        )
    return out.dropDuplicates(["url_norm"])


def stream_bloom_filter(
    docs: DataFrame,
    bitmap: list[int],
    col: str = "text",
    num_hashes: int = 5,
    keep: str = "non_members",
) -> DataFrame:
    """Streaming blocklist/decontamination filter against a PREBUILT
    Bloom bitmap (``dedup.bloom_bitmap`` over the reference set —
    built in batch, shipped as a plan literal): pure stateless
    scan-side predicate, so it runs identically on streams — no state
    store, no watermark, per-record O(k) work.  ``keep="non_members"``
    drops probable members (decontamination: no false negatives means
    NO contaminated record survives); ``keep="members"`` inverts (route
    matches to review).  The bitmap is fixed at query start — rebuild
    the query to pick up a new blocklist (documented: streaming state
    is not the place for a mutable reference set)."""
    from entwiner_spark.operators.dedup import bloom_contains

    hit = bloom_contains(F.col(col), bitmap, num_hashes)
    if keep == "non_members":
        return docs.filter(~hit)
    if keep == "members":
        return docs.filter(hit)
    raise ValueError(f"keep must be 'members' or 'non_members', got {keep!r}")
