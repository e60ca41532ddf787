"""Scale stress: run the core pipelines at ~1M-row scale on local[32].

Not part of the test suite (minutes, not seconds) — evidence that the
distributed paths hold beyond the sf0.1 bench scale.  Results recorded
in PLANS.md.  Usage: python tools/stress.py [--docs N_REPLICAS]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# the checkout this script lives in, for the driver AND for the Python
# UDF workers Spark starts (they import entwiner_spark through
# PYTHONPATH, not through this process's sys.path)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--doc-replicas", type=int, default=20)
    ap.add_argument("--graph-nodes", type=int, default=100_000)
    ap.add_argument(
        "--xl",
        action="store_true",
        help="run the 1M+-edge graph phases (MSF 1M nodes / 2M edges, "
        "k-truss 1M+ edges) — several extra minutes",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from entwiner_spark.operators.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from entwiner_spark.operators.graph import SparkGraph
    from entwiner_spark.session import get_spark

    spark = get_spark("stress")
    spark.range(10).count()
    out: dict[str, float] = {}

    def log(msg):
        print(msg, file=sys.stderr, flush=True)

    # --- 1M-doc corpus: replicate sf0.1 docs with a per-replica salt
    # word so near-dup structure survives but exact dups are planted
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    reps = spark.range(args.doc_replicas).select(F.col("id").alias("rep"))
    corpus = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.when(F.col("rep") % 10 == 0, F.col("text"))  # exact dups every 10th
            .otherwise(F.concat_ws(" ", F.concat(F.lit("salt"), F.col("rep")), F.col("text"),
                                   F.concat(F.lit("tail"), F.col("rep"))))
            .alias("text"),
        )
    )
    # crossJoin inherits the single-file input's partitioning — without
    # this, every downstream stage runs on ONE task (the local-mode
    # version of the classic small-dim-explosion pitfall)
    corpus = corpus.repartition(64)
    n_docs = corpus.count()
    out["corpus_docs"] = n_docs

    log("phase: exact dedup")
    t0 = time.time()
    out["exact_dedup_groups"] = exact_dedup(corpus).count()
    out["exact_dedup_sec"] = round(time.time() - t0, 1)

    log("phase: minhash")
    t0 = time.time()
    sig = minhash_signatures(corpus.filter(F.size(F.split("text", " ")) >= 3))
    n_sig = sig.count()
    out["minhash_docs"] = n_sig
    out["minhash_sec"] = round(time.time() - t0, 1)

    log("phase: minhash xxhash64 fast path")
    t0 = time.time()
    sig_fast = minhash_signatures(
        corpus.filter(F.size(F.split("text", " ")) >= 3), hash_fn="xxhash64"
    )
    out["minhash_fast_docs"] = sig_fast.count()
    out["minhash_fast_sec"] = round(time.time() - t0, 1)

    log("phase: lsh")
    t0 = time.time()
    pairs = lsh_candidate_pairs(sig)
    out["lsh_pairs"] = pairs.count()
    out["lsh_sec"] = round(time.time() - t0, 1)

    # --- transitive clustering over the full candidate-pair graph:
    # star-contraction CC on ~1.7M pairs -> canonical per doc
    log("phase: dedup clusters")
    from entwiner_spark.operators.dedup import dedup_clusters

    t0 = time.time()
    clusters = dedup_clusters(pairs)
    out["cluster_docs"] = clusters.count()
    out["cluster_count"] = clusters.select("canonical_id").distinct().count()
    out["cluster_sec"] = round(time.time() - t0, 1)

    # --- exact Jaccard at scale: the prefix-filtered join must handle
    # a corpus where the all-pairs baseline (n²/2 ≈ 5e9 pairs at 100k
    # docs) is not even startable.  Uses a 100k-doc slice with planted
    # exact dups so the answer is non-trivial.
    log("phase: prefix-filtered jaccard")
    from entwiner_spark.operators.dedup import jaccard_pairs_prefix

    jac_corpus = corpus.filter(F.col("doc_id") % args.doc_replicas < 2)
    out["jaccard_docs"] = jac_corpus.count()
    t0 = time.time()
    out["jaccard_pairs"] = jaccard_pairs_prefix(jac_corpus, threshold=0.8).count()
    out["jaccard_sec"] = round(time.time() - t0, 1)

    # --- 200k-vector k-means: train the IVF quantizer at scale.  Only
    # (k x dim) doubles ever reach the driver per iteration.
    log("phase: kmeans ivf training")
    from entwiner_spark.operators.similarity import kmeans_centroids, wcss

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    vreps = spark.range(100).select(F.col("id").alias("rep"))
    big_emb = (
        emb.crossJoin(vreps)
        .select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + (F.col("rep") % 7) * F.lit(0.01)
            ).alias("embedding"),
        )
        .repartition(64)
    )
    out["kmeans_vectors"] = big_emb.count()
    t0 = time.time()
    seed = kmeans_centroids(big_emb, k=8, iterations=0)
    trained = kmeans_centroids(big_emb, k=8, iterations=3)
    out["kmeans_sec"] = round(time.time() - t0, 1)
    w_seed, w_trained = wcss(big_emb, seed), wcss(big_emb, trained)
    out["kmeans_wcss_gain"] = round(1 - w_trained / w_seed, 3)
    assert w_trained < w_seed

    # --- LSH-bucketed embedding near-dup over the same 50k vectors:
    # the bucket equi-join path that replaces the all-pairs verify
    log("phase: lsh embedding near-dup")
    from entwiner_spark.operators.similarity import lsh_neardup_pairs

    nd_emb = big_emb.filter(F.col("vec_id") % 2 == 0)
    out["neardup_vectors"] = nd_emb.count()
    # refine="matmul": per-bucket blocked Gram refine (r9) — the join
    # refine moved ~100 GB of per-pair array copies for 98.5M
    # candidates (measured 42-100 s); matmul moves each vector once
    # and runs BLAS (7 s, identical pair set — asserted in tests and
    # cross-checked once in the r9 profile, PLANS.md)
    t0 = time.time()
    out["neardup_pairs"] = lsh_neardup_pairs(
        nd_emb, dim=64, planes=8, threshold=0.9, refine="matmul"
    ).count()
    out["neardup_sec"] = round(time.time() - t0, 1)

    # --- 2M-edge synthetic graph, forced Pregel SSSP
    n = args.graph_nodes
    base = spark.range(n)
    e1 = base.filter(F.col("id") < n - 1).select(
        F.col("id").cast("string").alias("_u"),
        (F.col("id") + 1).cast("string").alias("_v"),
        (F.col("id") % 7 + 1).cast("double").alias("w"),
    )
    e2 = base.filter(F.col("id") < n - 1000).select(
        F.col("id").cast("string").alias("_u"),
        (F.col("id") + 1000).cast("string").alias("_v"),
        (F.col("id") % 3 + 5).cast("double").alias("w"),
    )
    edges = e1.unionByName(e2)
    nodes = base.select(F.col("id").cast("string").alias("_n"))
    log("phase: pregel sssp")
    G = SparkGraph(nodes, edges, partitions=32)
    # materialize the synthetic edge table outside the timed window so
    # sssp_sec measures the Pregel loop, not spark.range generation
    out["sssp_edges"] = edges.count()
    t0 = time.time()
    dist = G.shortest_path_lengths("0", weight="w", max_iterations=12, strategy="pregel")
    out["sssp_reached_12iter"] = dist.count()
    out["sssp_sec"] = round(time.time() - t0, 1)

    # --- distributed pagerank on the same graph (r8: the branch now
    # rides the public SparkGraph.pregel primitive — this phase is its
    # scale proof).  tol=0 forces exactly 10 supersteps; mass
    # conservation is the closed-form answer check.
    log("phase: pregel pagerank 10 iter")
    t0 = time.time()
    pr_mass = (
        G.pagerank(max_iterations=10, tol=0.0, strategy="pregel")
        .agg(F.sum("rank"))
        .collect()[0][0]
    )
    out["pagerank_sec"] = round(time.time() - t0, 1)
    assert abs(pr_mass - 1.0) < 1e-6, f"pagerank mass {pr_mass} != 1"

    # --- 10k-node chain: diameter 10,000.  Star-contraction CC must
    # converge in O(log^2 n) alternating rounds (<30), where one-hop
    # min-label propagation would need 10,000.
    log("phase: chain cc (diameter 10k)")
    cn = 10_000
    chain = spark.range(cn - 1).select(
        F.col("id").cast("string").alias("_u"),
        (F.col("id") + 1).cast("string").alias("_v"),
    )
    cnodes = spark.range(cn).select(F.col("id").cast("string").alias("_n"))
    Gc = SparkGraph(cnodes, chain, partitions=32)
    t0 = time.time()
    cc = Gc.connected_components(max_iterations=30, strategy="pregel")
    out["chain_cc_components"] = cc.select("component").distinct().count()
    out["chain_cc_sec"] = round(time.time() - t0, 1)
    assert out["chain_cc_components"] == 1, "chain must be one component"

    # --- 2,000-hop route: binary-lifting reconstruction must finish in
    # ~log2(L) doubling rounds, not one driver collect per hop.  (The
    # SSSP itself is O(diameter) rounds by nature — here we stress only
    # the reconstruction, so the predecessor forest is built directly.)
    log("phase: 2k-hop path reconstruction")
    pn = 2_000
    pdist = spark.range(pn).select(
        F.col("id").cast("string").alias("_n"),
        F.col("id").cast("double").alias("dist"),
        F.when(F.col("id") > 0, (F.col("id") - 1).cast("string")).alias("pred"),
    )
    pnodes = spark.range(pn).select(F.col("id").cast("string").alias("_n"))
    Gp = SparkGraph(pnodes, chain, partitions=32)
    t0 = time.time()
    path, total = Gp._reconstruct_path(pdist, str(pn - 1))
    out["path_hops"] = len(path) - 1
    out["path_sec"] = round(time.time() - t0, 1)
    assert len(path) == pn and total == float(pn - 1)

    # --- motif binding joins on a triangle-rich ~300k-edge graph:
    # three equi-joins (triangle) and a LEFT ANTI (negated wedge) must
    # stay equi-join-shaped (no cartesian) and finish in seconds
    log("phase: motif finding")
    e3 = base.filter(F.col("id") < n - 1001).select(
        F.col("id").cast("string").alias("_u"),
        (F.col("id") + 1001).cast("string").alias("_v"),
        F.lit(3.0).alias("w"),
    )
    tri_edges = edges.unionByName(e3)
    tri_edges.count()
    Gm = SparkGraph(nodes, tri_edges, partitions=32)
    t0 = time.time()
    out["motif_triangles"] = Gm.find(
        "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)"
    ).count()
    out["motif_tri_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    out["motif_open_wedges"] = Gm.find(
        "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)"
    ).count()
    out["motif_wedge_sec"] = round(time.time() - t0, 1)

    # --- k-core + LPA on a 200k-node graph: a sparse 2-out tail
    # (undirected degree ~4) with a planted 10k-node dense block
    # (4 extra in-block arms, degree ~12).  k=6 must peel the 190k
    # sparse nodes away in waves and keep EXACTLY the planted block —
    # survivors + cascade + convergence all forced-distributed
    log("phase: k-core + lpa 200k")
    kn = args.graph_nodes * 2
    kbs = kn // 20
    kb = spark.range(kn)
    karms = [
        kb.select(
            F.col("id").cast("string").alias("_u"),
            ((F.col("id") * a + b) % kn).cast("string").alias("_v"),
            F.lit(1.0).alias("w"),
        )
        for a, b in ((37, 11), (101, 7))
    ]
    kblk = kb.filter(F.col("id") < kbs)
    kdense = [
        kblk.select(
            F.col("id").cast("string").alias("_u"),
            ((F.col("id") * 7 + j) % kbs).cast("string").alias("_v"),
            F.lit(1.0).alias("w"),
        )
        for j in (1, 3, 9, 27)
    ]
    ke = karms[0]
    for arm in karms[1:] + kdense:
        ke = ke.unionByName(arm)
    ke = ke.filter(F.col("_u") != F.col("_v"))
    knodes = kb.select(F.col("id").cast("string").alias("_n"))
    Gk = SparkGraph(knodes, ke, partitions=32)
    out["kcore_edges"] = ke.count()
    t0 = time.time()
    core = Gk.kcore(6, max_iterations=60, strategy="pregel")
    out["kcore_nodes"] = core.count()
    out["kcore_sec"] = round(time.time() - t0, 1)
    assert out["kcore_nodes"] == kbs, "6-core must be the planted block"
    t0 = time.time()
    lab = Gk.label_propagation(iterations=4)
    out["lpa_communities"] = lab.select("label").distinct().count()
    out["lpa_sec"] = round(time.time() - t0, 1)

    # --- duplicate n-gram span coverage over the 1M-doc corpus: only
    # narrow (id, gram-hash) rows shuffle; one doc-frequency agg + one
    # gram-keyed join + one per-doc agg, single pass for the metrics
    log("phase: dup-ngram coverage 1M docs")
    from entwiner_spark.operators.dedup import dup_ngram_coverage

    t0 = time.time()
    cov = dup_ngram_coverage(corpus)
    m = cov.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("dup_frac") > 0).cast("long")).alias("dup"),
    ).collect()[0]
    out["dupngram_docs"] = m["n"]
    out["dupngram_docs_with_dups"] = m["dup"]
    out["dupngram_sec"] = round(time.time() - t0, 1)

    # --- streaming LSH pairs: 20k mostly-dissimilar docs (500 planted
    # clones) through the watermarked band self-join; state stays
    # bucket-sized because the corpus is realistic (an all-same-head
    # corpus is the documented hot-band degenerate case)
    log("phase: streaming lsh pairs")
    import hashlib
    import tempfile

    from pyspark.sql import types as T

    from entwiner_spark.streaming.dedup import stream_lsh_pairs

    sdir = tempfile.mkdtemp()
    sn = 20_000

    def _words(i: int) -> str:
        h = hashlib.md5(str(i).encode()).hexdigest()
        return " ".join(
            f"w{int(h[k * 2 : k * 2 + 3], 16) % 5000}" for k in range(12)
        )

    with open(f"{sdir}/docs.json", "w") as fh:
        for i in range(sn):
            src = i - 10_000 if 10_000 <= i < 10_500 else i
            ts = f"2026-01-01T00:{(i // 60) % 60:02d}:{i % 60:02d}.000Z"
            fh.write(
                json.dumps({"doc_id": i, "text": _words(src), "ts": ts}) + "\n"
            )
    sschema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(sschema).json(sdir)
    q = (
        stream_lsh_pairs(stream, watermark="2 hours", hash_fn="xxhash64")
        .writeStream.format("memory")
        .queryName("stress_lsh")
        .outputMode("append")
        .start()
    )
    t0 = time.time()
    q.processAllAvailable()
    out["stream_lsh_sec"] = round(time.time() - t0, 1)
    out["stream_lsh_docs"] = sn
    out["stream_lsh_pairs"] = spark.sql(
        "SELECT count(*) c FROM stress_lsh"
    ).collect()[0]["c"]
    q.stop()

    # --- SCC on 50k nodes / 1000 interlinked 50-cycles: FW-BW
    # coloring must peel all 1000 SCCs in <= 4 outer rounds (bridge
    # chain depth 3; every other cycle roots itself in round 1), with
    # inner rounds bounded by the within-SCC diameter (50), never the
    # node count.
    log("phase: scc 50k")
    sccn, cyc = 50_000, 50
    sb = spark.range(sccn)
    scc_edges = sb.select(
        F.col("id").cast("string").alias("_u"),
        (F.col("id") - F.col("id") % cyc + (F.col("id") + 1) % cyc)
        .cast("string")
        .alias("_v"),
    )
    bridges = spark.range(3).select(
        (F.col("id") * cyc).cast("string").alias("_u"),
        ((F.col("id") + 1) * cyc).cast("string").alias("_v"),
    )
    scc_all = scc_edges.unionByName(bridges)
    scc_all.count()
    Gs = SparkGraph(
        sb.select(F.col("id").cast("string").alias("_n")), scc_all, partitions=32
    )
    t0 = time.time()
    sccs = Gs.strongly_connected_components(max_iterations=30, strategy="pregel")
    out["scc_components"] = sccs.select("component").distinct().count()
    out["scc_sec"] = round(time.time() - t0, 1)
    assert out["scc_components"] == sccn // cyc, "one SCC per cycle"

    # --- topological levels on a 300k-node 30-deep layered DAG:
    # Kahn peel rounds = depth (30), each a join over 600k edges.
    log("phase: topo levels 300k")
    width, depth = 10_000, 30
    tb = spark.range(width * depth)
    lvl = F.expr(f"id div {width}")
    pos = F.col("id") % width
    t_e = (
        tb.filter(lvl < depth - 1)
        .select(
            F.col("id").cast("string").alias("_u"),
            ((lvl + 1) * width + pos).cast("string").alias("_v"),
        )
        .unionByName(
            tb.filter(lvl < depth - 1).select(
                F.col("id").cast("string").alias("_u"),
                ((lvl + 1) * width + (pos + 37) % width).cast("string").alias("_v"),
            )
        )
    )
    t_e.count()
    Gt = SparkGraph(
        tb.select(F.col("id").cast("string").alias("_n")), t_e, partitions=32
    )
    t0 = time.time()
    levels = Gt.topological_levels(max_iterations=depth + 2, strategy="pregel")
    out["topo_nodes"] = levels.count()
    out["topo_max_level"] = levels.agg(F.max("level")).collect()[0][0]
    out["topo_sec"] = round(time.time() - t0, 1)
    assert out["topo_max_level"] == depth - 1


    # --- t19 end-to-end preprocessing pipeline over the replicated
    # corpus: filter + dedup + redact + tokenize + pack in one plan.
    # The map stages must fuse into the scan (one pass); wall-clock is
    # dominated by the dedup shuffle + packing window.
    log("phase: preprocessing pipeline 1M docs")
    from entwiner_spark.functions import text as TXs
    from entwiner_spark.operators import packing as PACKs

    lang_docs = corpus.withColumn("lang", (F.col("doc_id") % 5).cast("string"))
    kept = lang_docs.filter(
        TXs.gopher_quality_flags(F.col("text"))["keep"]
    ).select("doc_id", "lang", "text")
    fp_min = kept.groupBy(TXs.fingerprint(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    docs2 = kept.join(fp_min.select("doc_id"), "doc_id", "left_semi")
    toks = docs2.select(
        "doc_id",
        "lang",
        TXs.bpe_token_count(TXs.redact_pii(F.col("text")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    packed = PACKs.chunk_by_cumsum(toks, "lang", "doc_id", "n_tokens", 2048)
    t0 = time.time()
    out["pipeline_chunks"] = (
        packed.groupBy("lang", "chunk_id").count().count()
    )
    out["pipeline_sec"] = round(time.time() - t0, 1)


    # --- t22 long-doc escalation (r9 verdict): repetition removal at
    # >=1k paragraphs/doc.  2k docs x 1,200 paragraphs drawn from 400
    # distinct strings (3x dup rate) — the explode plan must clear it
    # in seconds; the inline O(p²) plan gets a 50-doc slice only, as
    # the per-row cost contrast (1.44M position-scan comparisons per
    # doc).  Both plans must agree exactly on the shared slice.
    log("phase: t22 repetition removal, 1200 paragraphs/doc")
    n_ld, p_ld, vocab_ld = 2_000, 1_200, 400
    ld = (
        spark.range(n_ld)
        .select(F.col("id").alias("doc_id"))
        .crossJoin(spark.range(p_ld).select(F.col("id").alias("p")))
        .select(
            "doc_id",
            F.concat(
                F.lit("para"),
                F.pmod(F.xxhash64("doc_id", "p"), F.lit(vocab_ld)),
            ).alias("para"),
            "p",
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "para"))),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("text")
        )
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    ex_out = TXs.remove_repeated_paragraphs(ld, method="explode")
    ex_agg = ex_out.agg(
        F.sum("n_parts").alias("tp"), F.max("n_unique").alias("mu")
    ).collect()[0]
    out["t22_explode_docs"] = n_ld
    out["t22_explode_sec"] = round(time.time() - t0, 1)
    assert ex_agg["tp"] == n_ld * p_ld, "every paragraph accounted for"
    assert ex_agg["mu"] <= vocab_ld + 1, "uniques bounded by vocab"
    ld50 = ld.limit(50).localCheckpoint(eager=True)
    t0 = time.time()
    in50 = {
        r["doc_id"]: (r["n_parts"], r["n_unique"], r["clean_text"])
        for r in TXs.remove_repeated_paragraphs(
            ld50, method="inline"
        ).collect()
    }
    out["t22_inline50_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    ex50 = {
        r["doc_id"]: (r["n_parts"], r["n_unique"], r["clean_text"])
        for r in TXs.remove_repeated_paragraphs(
            ld50, method="explode"
        ).collect()
    }
    out["t22_explode50_sec"] = round(time.time() - t0, 1)
    assert in50 == ex50, "inline and explode plans must agree"

    # --- Boruvka MSF on a 120k-node / ~240k-edge weighted graph:
    # rounds halve components; per-round CC on the contracted graph
    # dispatches size-adaptively.  Must emit exactly a spanning tree.
    log("phase: minimum spanning forest 120k")
    mn = 120_000
    mb = spark.range(mn)
    mchain = mb.filter(F.col("id") < mn - 1).select(
        F.col("id").cast("string").alias("_u"),
        (F.col("id") + 1).cast("string").alias("_v"),
        (F.col("id") % 97 + 1 + (F.col("id") % 7) * 0.01).alias("w"),
    )
    mchords = mb.filter(F.col("id") < mn - 1000).select(
        F.col("id").cast("string").alias("_u"),
        (F.col("id") + 1000).cast("string").alias("_v"),
        (F.col("id") % 89 + 50 + (F.col("id") % 11) * 0.01).alias("w"),
    )
    me = mchain.unionByName(mchords)
    me.count()
    Gmsf = SparkGraph(
        mb.select(F.col("id").cast("string").alias("_n")), me, partitions=32
    )
    t0 = time.time()
    msf = Gmsf.minimum_spanning_forest(strategy="pregel")
    out["msf_edges"] = msf.count()
    out["msf_sec"] = round(time.time() - t0, 1)
    assert out["msf_edges"] == mn - 1

    # --- 5-truss on 216k edges: a 2000-node circulant community
    # (d=1..8, triangle-rich) embedded in a 100k-node sparse tail.
    # The peel must drop the 200k tail edges and keep the community.
    log("phase: k-truss 216k edges")
    tb = spark.range(100_000)
    tarms = [
        tb.select(F.col("id").cast("string").alias("_u"),
                  ((F.col("id") * a + c) % 100_000).cast("string").alias("_v"),
                  F.lit(1.0).alias("w"))
        for a, c in ((37, 11), (101, 7))
    ]
    tblk = tb.filter(F.col("id") < 2000)
    tdense = [
        tblk.select(F.col("id").cast("string").alias("_u"),
                    ((F.col("id") + d) % 2000).cast("string").alias("_v"),
                    F.lit(1.0).alias("w"))
        for d in range(1, 9)
    ]
    te = tarms[0]
    for a in tarms[1:] + tdense:
        te = te.unionByName(a)
    te.count()
    Gt5 = SparkGraph(
        tb.select(F.col("id").cast("string").alias("_n")), te, partitions=32
    )
    t0 = time.time()
    out["ktruss_edges"] = Gt5.ktruss(5, strategy="pregel").count()
    out["ktruss_sec"] = round(time.time() - t0, 1)
    assert out["ktruss_edges"] >= 15000

    # --- hub-skew 3-truss: one 30k-degree hub ('0hub', lexicographic
    # minimum on purpose) + a triangle-rich spoke ring.  The
    # degree-oriented wedge join orients every hub edge INTO the hub
    # so wedges only fan out from low-degree spokes; the old
    # lex-oriented join fanned 30k wedges from each hub edge (~26x
    # slower PER ROUND, measured 255 s vs 9.7 s full peel).
    log("phase: k-truss hub-skew 90k edges")
    hn = 30_000
    hb = spark.range(hn)
    hspokes = hb.select(
        F.lit("0hub").alias("_u"),
        F.format_string("n%06d", "id").alias("_v"),
        F.lit(1.0).alias("w"),
    )
    hring = [
        hb.select(
            F.format_string("n%06d", "id").alias("_u"),
            F.format_string("n%06d", (F.col("id") + d) % hn).alias("_v"),
            F.lit(1.0).alias("w"),
        )
        for d in (1, 2)
    ]
    he = hspokes
    for a in hring:
        he = he.unionByName(a)
    he.count()
    hnodes = hb.select(F.format_string("n%06d", "id").alias("_n")).unionByName(
        spark.range(1).select(F.lit("0hub").alias("_n"))
    )
    Ghub = SparkGraph(hnodes, he, partitions=32)
    t0 = time.time()
    out["ktruss_hub_edges"] = Ghub.ktruss(3, strategy="pregel").count()
    out["ktruss_hub_sec"] = round(time.time() - t0, 1)
    # every edge closes a triangle (hub-spoke via the ring, ring via
    # the step-2 chord), so the full 3*hn edges survive the 3-truss
    assert out["ktruss_hub_edges"] == 3 * hn

    if args.xl:
        # --- XL MSF: 1M nodes / ~2M weighted edges.  Round 0 relabels
        # 1M component labels (> RELABEL_LOCAL_THRESHOLD) so the
        # distributed pointer-jump path is exercised for real; later
        # rounds drop under the threshold and go driver-side.
        log("phase: XL minimum spanning forest 1M nodes / 2M edges")
        xn = 1_000_000
        xb = spark.range(xn)
        xchain = xb.filter(F.col("id") < xn - 1).select(
            F.col("id").cast("string").alias("_u"),
            (F.col("id") + 1).cast("string").alias("_v"),
            (F.col("id") % 97 + 1 + (F.col("id") % 7) * 0.01).alias("w"),
        )
        xchords = xb.filter(F.col("id") < xn - 1000).select(
            F.col("id").cast("string").alias("_u"),
            (F.col("id") + 1000).cast("string").alias("_v"),
            (F.col("id") % 89 + 50 + (F.col("id") % 11) * 0.01).alias("w"),
        )
        xe = xchain.unionByName(xchords)
        xe.count()
        Gx = SparkGraph(
            xb.select(F.col("id").cast("string").alias("_n")), xe, partitions=64
        )
        t0 = time.time()
        out["msf_xl_edges"] = Gx.minimum_spanning_forest(
            strategy="pregel"
        ).count()
        out["msf_xl_sec"] = round(time.time() - t0, 1)
        assert out["msf_xl_edges"] == xn - 1

        # --- XL 5-truss: ~1.06M edges (500k-node 2-arm sparse tail +
        # the 2000-node circulant community).
        log("phase: XL k-truss 1M+ edges")
        kn = 500_000
        kb = spark.range(kn)
        karms = [
            kb.select(
                F.col("id").cast("string").alias("_u"),
                ((F.col("id") * a + c) % kn).cast("string").alias("_v"),
                F.lit(1.0).alias("w"),
            )
            for a, c in ((37, 11), (101, 7))
        ]
        kblk = kb.filter(F.col("id") < 2000)
        kdense = [
            kblk.select(
                F.col("id").cast("string").alias("_u"),
                ((F.col("id") + d) % 2000).cast("string").alias("_v"),
                F.lit(1.0).alias("w"),
            )
            for d in range(1, 9)
        ]
        ke = karms[0]
        for a in karms[1:] + kdense:
            ke = ke.unionByName(a)
        ke.count()
        Gk = SparkGraph(
            kb.select(F.col("id").cast("string").alias("_n")), ke, partitions=64
        )
        t0 = time.time()
        out["ktruss_xl_edges"] = Gk.ktruss(5, strategy="pregel").count()
        out["ktruss_xl_sec"] = round(time.time() - t0, 1)
        assert out["ktruss_xl_edges"] >= 15000

        # --- XL SCC: 500k nodes in 500 cycles of length 1000, chained
        # by one-way bridges (r7's 50k/1000-cycle stress at 10x the
        # nodes).  Pointer-doubled min-label propagation must cover
        # each 1000-cycle in O(log 1000) ~ 10 rounds per FW-BW pass,
        # not O(1000).
        log("phase: XL scc 500k nodes / 1000-cycles")
        sxn, sxc = 500_000, 1_000
        sxb = spark.range(sxn)
        sx_edges = sxb.select(
            F.col("id").cast("string").alias("_u"),
            (F.col("id") - F.col("id") % sxc + (F.col("id") + 1) % sxc)
            .cast("string")
            .alias("_v"),
        )
        sx_bridges = spark.range(10).select(
            (F.col("id") * sxc).cast("string").alias("_u"),
            ((F.col("id") + 1) * sxc).cast("string").alias("_v"),
        )
        sx_all = sx_edges.unionByName(sx_bridges)
        sx_all.count()
        Gsx = SparkGraph(
            sxb.select(F.col("id").cast("string").alias("_n")),
            sx_all,
            partitions=64,
        )
        sx_stats: dict = {}
        t0 = time.time()
        sx_out = Gsx.strongly_connected_components(
            max_iterations=40, strategy="pregel", stats=sx_stats
        )
        out["scc_xl_components"] = sx_out.select("component").distinct().count()
        out["scc_xl_sec"] = round(time.time() - t0, 1)
        # pointer-doubling evidence: seed/fixpoint rounds per pass stay
        # O(log cycle-length), never O(cycle-length)
        out["scc_xl_rounds"] = {
            k: [[s["seed"], s["fix"]] for s in v] for k, v in sx_stats.items()
        }
        assert out["scc_xl_components"] == sxn // sxc, "one SCC per cycle"

        # --- same adversary, recursive FW-BW (r9): the coloring path
        # above pays one outer pass per bridge-chained cycle (10
        # passes); random-pivot divide-and-conquer splits the chain
        # and advances every partition per level — levels should be
        # O(log chain), not chain length
        log("phase: XL scc 500k, recursive fwbw")
        fw_stats: dict = {}
        t0 = time.time()
        fw_out = Gsx.strongly_connected_components(
            max_iterations=40, strategy="fwbw", stats=fw_stats
        )
        out["scc_xl_fwbw_components"] = (
            fw_out.select("component").distinct().count()
        )
        out["scc_xl_fwbw_sec"] = round(time.time() - t0, 1)
        out["scc_xl_fwbw_levels"] = len(fw_stats["levels"])
        out["scc_xl_fwbw_parts_per_level"] = [
            lv.get("parts", 0) for lv in fw_stats["levels"]
        ]
        assert out["scc_xl_fwbw_components"] == sxn // sxc

        # --- XL weighted SSSP to CONVERGENCE: 1M nodes, chain +
        # +1000 chords, plus a 100k-out-degree hub at the source (the
        # skewed-frontier case: round 1's frontier join fans one node
        # out to 100k messages).  Per-probe frontier sizes recorded so
        # PLANS.md can show the wavefront collapsing.
        # --- XL ANF: HyperLogLog neighborhood function on a 200k-node
        # 4-regular affine-map digraph (expander-ish, diameter ~9).
        # State = |V| HLL sketches, pairs never materialize; N(0) must
        # be exactly |V| (singleton sketches are sparse-exact) and
        # N(h) strictly monotone while balls grow ~4x/hop.
        log("phase: XL ANF 200k nodes / 800k edges")
        an = 200_000
        ab = spark.range(an)
        aparts = [
            ab.select(
                F.col("id").cast("string").alias("_u"),
                ((F.col("id") * a + b) % an).cast("string").alias("_v"),
            )
            for a, b in ((5, 1), (7, 3), (11, 17), (13, 29))
        ]
        a_all = aparts[0]
        for p in aparts[1:]:
            a_all = a_all.unionByName(p)
        a_all.count()
        Ga = SparkGraph(
            ab.select(F.col("id").cast("string").alias("_n")),
            a_all,
            partitions=32,
        )
        t0 = time.time()
        anf = {
            r["hop"]: r["n_pairs"]
            for r in Ga.neighborhood_function(max_hops=5, method="hll").collect()
        }
        out["anf_xl_sec"] = round(time.time() - t0, 1)
        out["anf_xl_n_pairs"] = [anf[h] for h in sorted(anf)]
        assert anf[0] == an, "singleton sketches are sparse-exact"
        assert all(
            anf[h] > anf[h - 1] for h in range(1, 5)
        ), "balls must grow every hop on an expander"
        # 4-regular: ball(h) <= 1 + 4 + ... + 4^h; HLL error ~1.6%
        bound = sum(4**i for i in range(6)) * an * 1.05
        assert anf[5] <= bound, "estimate within the degree bound"

        log("phase: XL weighted sssp 1M nodes, skewed hub")
        wn = 1_000_000
        wb = spark.range(wn)
        # skip-list topology: id -> id+g for g in {1,10,...,100000},
        # weight exactly g, so dist(k) == k via the base-10 digit
        # decomposition (at most 9 hops per digit, ~54-hop diameter —
        # a genuinely deep weighted relaxation, ~6M edges)
        wparts = [
            wb.filter(F.col("id") < wn - g).select(
                F.col("id").cast("string").alias("_u"),
                (F.col("id") + g).cast("string").alias("_v"),
                F.lit(float(g)).alias("w"),
            )
            for g in (1, 10, 100, 1_000, 10_000, 100_000)
        ]
        # skewed hub: source 0 -> every multiple of 10 (100k edges at
        # weight 1.3x the true distance).  Round 1 fans ONE frontier
        # node out to 100k messages (the hot-key case), and every one
        # of those tentative distances is later IMPROVED by a skip
        # path — real Bellman-Ford re-relaxation, not a broadcast.
        whub = wb.filter((F.col("id") % 10 == 0) & (F.col("id") > 0)).select(
            F.lit("0").alias("_u"),
            F.col("id").cast("string").alias("_v"),
            (F.col("id") * 1.3).alias("w"),
        )
        we = wparts[0]
        for p in wparts[1:] + [whub]:
            we = we.unionByName(p)
        we.count()
        Gw = SparkGraph(
            wb.select(F.col("id").cast("string").alias("_n")), we, partitions=64
        )
        wstats: dict = {}
        t0 = time.time()
        wd = Gw.shortest_path_lengths(
            "0", weight="w", strategy="pregel", check_every=1, stats=wstats
        )
        wrow = wd.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).collect()[0]
        out["sssp_xl_reached"] = wrow["n"]
        out["sssp_xl_sec"] = round(time.time() - t0, 1)
        out["sssp_xl_rounds"] = len(wstats["rounds"])
        out["sssp_xl_frontiers"] = [r["frontier"] for r in wstats["rounds"]]
        assert out["sssp_xl_reached"] == wn, "all nodes reachable from 0"
        # every edge advances position by exactly its weight, so
        # dist(k) == k for all k — the sum is a closed-form oracle
        assert wrow["s"] == wn * (wn - 1) / 2, "exact distances dist(k)=k"

        # --- XL integer re-keying (r12): the same weighted SSSP on the
        # xxhash64-relabeled graph must reproduce the closed-form
        # distance set exactly after restore_ids; wall recorded for the
        # A/B (PLANS.md r12 measured 1.73x on 22-byte coordinate keys —
        # the short numeric ids here bound the win from below, the
        # parity assert is the regression gate)
        log("phase: XL relabeled SSSP parity")
        t0 = time.time()
        Gl, mapping = Gw.relabel_ids(method="hash")
        mapping = mapping.localCheckpoint(eager=True)
        Gl = SparkGraph(
            Gl.nodes.localCheckpoint(eager=True),
            Gl.edges.localCheckpoint(eager=True),
            partitions=64,
        )
        out["relabel_xl_build_sec"] = round(time.time() - t0, 1)
        src_id = mapping.filter(F.col("_n") == "0").collect()[0]["_id"]
        t0 = time.time()
        ld = Gl.shortest_path_lengths(src_id, weight="w", strategy="pregel")
        lrow = SparkGraph.restore_ids(ld, mapping, cols=["_n"]).agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).collect()[0]
        out["relabel_xl_sssp_sec"] = round(time.time() - t0, 1)
        assert lrow["n"] == wn and lrow["s"] == wn * (wn - 1) / 2, (
            "relabeled SSSP must reproduce the closed-form distances"
        )

        # --- XL effective diameter: the ANF consumer on the same
        # 200k-node expander (r10-verdict task #5).  4-regular affine
        # digraph → balls grow ~4x/hop, so the q=0.9 mass lands around
        # log4(0.9·|V|²/|V|) ≈ 8-9; the curve must saturate within 12.
        log("phase: XL effective diameter (ANF consumer)")
        t0 = time.time()
        # max_hops=16 is headroom, not cost: the HLL loop early-stops
        # at the exact-confirmed fixpoint and fills the monotone tail
        ed = Ga.effective_diameter(q=0.9, max_hops=16, method="hll").collect()[0]
        out["effdiam_xl_sec"] = round(time.time() - t0, 1)
        out["effdiam_xl"] = round(ed["effective_diameter"], 3)
        out["effdiam_xl_avg_dist"] = round(ed["avg_distance"], 3)
        out["effdiam_xl_saturated"] = bool(ed["saturated"])
        assert ed["saturated"], "expander curve must saturate by hop 16"
        assert 5.0 <= ed["effective_diameter"] <= 16.0
        assert 0.0 < ed["avg_distance"] <= ed["effective_diameter"] + 3

        # --- XL CH-lite chain contraction (r10-verdict task #7): a
        # street-like topology — 10k hub intersections on two affine
        # 2-out maps (hub degree 4), every hub-hub segment a
        # BIDIRECTIONAL chain of 9 through-nodes.  ~190k nodes / ~400k
        # directed edges; 95% of nodes are degree-2 pass-throughs, the
        # dominant sidewalk shape.  Contraction must absorb all of
        # them, and hop-BFS over the contracted graph must (a) agree
        # with raw BFS on every hub and (b) need ~10x fewer rounds.
        log("phase: XL chain contraction 190k nodes")
        hm = 10_000
        hb = spark.range(hm)
        segs = None
        for a, b in ((5, 1), (7, 3)):
            s = hb.select(
                F.col("id").alias("hi"),
                ((F.col("id") * a + b) % hm).alias("hj"),
                F.lit(f"m{a}").alias("seg"),
            ).filter(F.col("hi") != F.col("hj"))
            segs = s if segs is None else segs.unionByName(s)
        L = 9
        ks = segs.select(
            "hi", "hj", "seg", F.posexplode(F.sequence(F.lit(0), F.lit(L)))
        ).withColumnRenamed("pos", "k")

        def _name(k):
            return (
                F.when(k == 0, F.col("hi").cast("string"))
                .when(
                    k == L + 1,
                    F.col("hj").cast("string"),
                )
                .otherwise(
                    F.concat_ws(
                        "~",
                        F.col("hi"),
                        F.col("hj"),
                        F.col("seg"),
                        k.cast("string"),
                    )
                )
            )

        fwd = ks.select(
            _name(F.col("k")).alias("_u"), _name(F.col("k") + 1).alias("_v")
        )
        ch_edges = fwd.unionByName(
            fwd.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
        ).repartition(64)
        ch_nodes = (
            ch_edges.select(F.col("_u").alias("_n")).distinct()
        ).localCheckpoint(eager=True)
        ch_edges = ch_edges.localCheckpoint(eager=True)
        out["chain_xl_nodes"] = ch_nodes.count()
        out["chain_xl_edges"] = ch_edges.count()
        Gc = SparkGraph(ch_nodes, ch_edges, partitions=64, _pre_partitioned=False)

        t0 = time.time()
        Cc = Gc.contract_chains()
        con_nodes = Cc.nodes.localCheckpoint(eager=True)
        con_edges = Cc.edges.localCheckpoint(eager=True)
        out["chain_xl_contracted_nodes"] = con_nodes.count()
        out["chain_xl_contracted_edges"] = con_edges.count()
        out["chain_xl_contract_sec"] = round(time.time() - t0, 1)
        assert out["chain_xl_contracted_nodes"] == hm, "all through-nodes absorbed"
        Ccg = SparkGraph(con_nodes, con_edges, partitions=64)

        rstats: dict = {}
        t0 = time.time()
        raw_d = Gc.shortest_path_lengths(
            "0", strategy="pregel", stats=rstats
        ).localCheckpoint(eager=True)
        out["chain_xl_raw_sssp_sec"] = round(time.time() - t0, 1)
        out["chain_xl_raw_rounds"] = len(rstats["rounds"])
        cstats: dict = {}
        t0 = time.time()
        con_d = Ccg.shortest_path_lengths(
            "0", weight="w", strategy="pregel", stats=cstats
        ).localCheckpoint(eager=True)
        out["chain_xl_con_sssp_sec"] = round(time.time() - t0, 1)
        out["chain_xl_con_rounds"] = len(cstats["rounds"])
        mismatch = (
            con_d.withColumnRenamed("dist", "cd")
            .join(raw_d, "_n")
            .filter(F.col("cd") != F.col("dist"))
            .count()
        )
        assert mismatch == 0, "contracted hop distances == raw at every hub"
        assert out["chain_xl_con_rounds"] * 3 < out["chain_xl_raw_rounds"], (
            "contraction must cut Pregel rounds by >3x on the chain topology"
        )

        # --- A* routing parity (r12): center -> mid-east-edge on a
        # 60x60 bidirectional haversine grid; the admissible bound must
        # change NOTHING about the cost while pruning the away-side
        # wavefront (8.4x wall measured on the 100x100 probe —
        # PLANS.md r12; parity is the regression gate here)
        log("phase: XL A* routing parity 60x60 grid")
        from entwiner_spark.functions.geo import (
            haversine_heuristic,
            haversine_m,
        )

        gn = 60
        gb = spark.range(gn * gn).select(
            (F.col("id") % gn).cast("int").alias("x"),
            (F.col("id") / gn).cast("int").alias("y"),
        )
        gx, gy = F.col("x"), F.col("y")
        gid = lambda xc, yc: F.concat(  # noqa: E731
            (xc.cast("double") * 0.01).cast("string"),
            F.lit(", "),
            (yc.cast("double") * 0.01).cast("string"),
        )
        ghv = lambda nx, ny: haversine_m(  # noqa: E731
            gx.cast("double") * 0.01,
            gy.cast("double") * 0.01,
            nx.cast("double") * 0.01,
            ny.cast("double") * 0.01,
        )
        garms = []
        for dx, dy, cond in (
            (1, 0, gx < gn - 1),
            (-1, 0, gx > 0),
            (0, 1, gy < gn - 1),
            (0, -1, gy > 0),
        ):
            garms.append(
                gb.filter(cond).select(
                    gid(gx, gy).alias("_u"),
                    gid(gx + dx, gy + dy).alias("_v"),
                    ghv(gx + dx, gy + dy).alias("w"),
                )
            )
        ge = garms[0]
        for a in garms[1:]:
            ge = ge.unionByName(a)
        Gg = SparkGraph(
            gb.select(gid(gx, gy).alias("_n")).localCheckpoint(eager=True),
            ge.localCheckpoint(eager=True),
            partitions=32,
        )
        g_src, g_dst = "0.3, 0.3", "0.59, 0.3"
        t0 = time.time()
        g_raw = Gg.shortest_path(g_src, g_dst, weight="w", strategy="pregel")
        out["astar_xl_raw_sec"] = round(time.time() - t0, 1)
        t0 = time.time()
        g_ast = Gg.shortest_path(
            g_src,
            g_dst,
            weight="w",
            strategy="pregel",
            heuristic=haversine_heuristic(g_dst),
        )
        out["astar_xl_sec"] = round(time.time() - t0, 1)
        assert g_raw is not None and g_ast is not None
        assert abs(g_raw[1] - g_ast[1]) < 1e-6, (g_raw[1], g_ast[1])
        out["astar_xl_hops"] = len(g_ast[0]) - 1

        # --- FULL contraction hierarchies parity (r13): distributed
        # batched-IS build (forced, local_finish leaves real rounds)
        # + bidirectional upward pregel query on the same 60x60 grid;
        # cost must equal raw SSSP and the unpacked path must be a
        # genuine raw-edge walk summing to that cost
        log("phase: XL full-CH build+route parity 60x60 grid")
        from entwiner_spark.operators.ch import ContractionHierarchy

        t0 = time.time()
        chx = ContractionHierarchy.build(
            Gg, weight="w", strategy="pregel", local_finish=512
        )
        out["chfull_xl_build_sec"] = round(time.time() - t0, 1)
        out["chfull_xl_rounds"] = chx.rounds
        out["chfull_xl_search_edges"] = chx.n_search_edges
        assert chx.core_size == 0
        t0 = time.time()
        g_ch = chx.route(g_src, g_dst, strategy="pregel")
        out["chfull_xl_route_sec"] = round(time.time() - t0, 1)
        assert g_ch is not None
        assert abs(g_ch[1] - g_raw[1]) < 1e-6, (g_ch[1], g_raw[1])
        wmapx = {
            (rw["_u"], rw["_v"]): rw["w"]
            for rw in ge.select("_u", "_v", "w").collect()
        }
        walk = sum(wmapx[(a, b)] for a, b in zip(g_ch[0], g_ch[0][1:]))
        assert abs(walk - g_ch[1]) < 1e-6, (walk, g_ch[1])

        # --- Yen k-shortest sanity on the same grid: best-first, first
        # alternative == raw shortest cost, all loopless and distinct
        log("phase: XL Yen k-shortest on the grid")
        t0 = time.time()
        alts = Gg.k_shortest_paths(g_src, g_dst, k=3, weight="w")
        out["kshortest_xl_sec"] = round(time.time() - t0, 1)
        assert len(alts) == 3
        assert abs(alts[0][1] - g_raw[1]) < 1e-6
        costs = [c for _p, c in alts]
        assert costs == sorted(costs)
        assert len({tuple(p) for p, _c in alts}) == 3
        assert all(len(p) == len(set(p)) for p, _c in alts)

        # --- XL landmark closeness A/B (r14-verdict task #3): k
        # one-to-all sweeps raw (k sequential pregel SSSPs,
        # diameter-bound rounds) vs through the SAME prebuilt
        # hierarchy (ONE batched PHAST, height-bound rounds shared by
        # all landmarks).  Parity asserted on the summed distances.
        log("phase: XL landmark closeness raw vs contracted (PHAST)")
        lms = [
            r["_n"]
            for r in Gg.nodes.select("_n")
            .orderBy(F.md5(F.col("_n").cast("string")), "_n")
            .limit(4)
            .collect()
        ]
        t0 = time.time()
        raw_lm = {
            r["_n"]: r["total_dist"]
            for r in Gg.closeness_landmarks(
                weight="w", landmarks=lms, strategy="pregel"
            ).collect()
        }
        out["landmark_raw_sec"] = round(time.time() - t0, 1)
        t0 = time.time()
        ch_lm = {
            r["_n"]: r["total_dist"]
            for r in Gg.closeness_landmarks(
                weight="w",
                landmarks=lms,
                strategy="pregel",
                contracted=chx,
            ).collect()
        }
        out["landmark_ch_sec"] = round(time.time() - t0, 1)
        assert ch_lm.keys() == raw_lm.keys()
        assert all(
            abs(ch_lm[k] - raw_lm[k]) < 1e-6 * max(1.0, abs(raw_lm[k]))
            for k in raw_lm
        )

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
