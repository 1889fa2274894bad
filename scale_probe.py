#!/usr/bin/env python
"""Scale probe: measure how the scale-sensitive operators behave as the
corpus grows, on synthetic data larger than the driver fixtures.

The benchmark (``perfbench/``, declared in ``BENCHMARK.json``) runs on
the sf0.01 fixture where most queries are scheduling-floor-bound; this
probe answers the question that benchmark can't: *does wall time grow like the design says it should* (≈linear
for the banded/bucketed/blocked paths) when the data grows 4x and 16x?
Results + commentary live in SCALE_NOTES.md.

Usage: python scale_probe.py [--sizes 5000,20000,80000] [--ops a,b,...]
Prints one JSON line: {"op": {"n": sec, ...}, ...}. ``--ops`` limits
the run to a subset (e.g. the 320k minhash step, where the quadratic
exact-pairs op would be unaffordable). ``minhash_candidate_pairs``
(row COUNT, not seconds) is recorded alongside the minhash timings so
super-linear growth can be attributed: time growing like candidates =
corpus property; time outgrowing candidates = plan defect.

Synthetic corpus (seeded, deterministic): ~250-token documents over a
50k-word vocabulary (unrelated docs share few shingles, like a real
corpus), 10% exact duplicates, 10% near-duplicates (5 token edits),
plus 64-dim embeddings with 10 loose label clusters. The capped
minhash run covers the adversarial regime (boilerplate-heavy corpora
whose buckets balloon) via the mega-bucket guard.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fugue_warehouses_spark.session import get_spark, pinned_heap_conf  # noqa: E402

# 50k-word vocabulary: unrelated docs then share few shingles (like a
# real corpus); the tiny driver-fixture vocab is a separate regime —
# there, cross-doc Jaccard is high and the mega-bucket cap is the lever
# (probed separately as minhash_near_dups_capped).
VOCAB = [f"w{i}" for i in range(50_000)]


def make_docs(spark, n: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    base = n - n // 5  # 80% originals
    toks = rng.integers(0, len(VOCAB), size=(base, 250))
    texts = [" ".join(VOCAB[t] for t in row) for row in toks]
    # 10% exact dups, 10% near dups (5 token edits)
    exact = list(rng.integers(0, base, size=n // 10))
    near = list(rng.integers(0, base, size=n - base - len(exact)))
    for src in exact:
        texts.append(texts[src])
    for src in near:
        row = toks[src].copy()
        pos = rng.integers(0, 250, size=5)
        row[pos] = rng.integers(0, len(VOCAB), size=5)
        texts.append(" ".join(VOCAB[t] for t in row))
    rows = [(i, t, f"src{i % 20}") for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def make_embeddings(spark, n: int, dim: int = 64, seed: int = 7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, size=n)
    vecs = centers[labels] + rng.normal(scale=2.0, size=(n, dim))
    rows = [
        (int(i), [float(x) for x in vecs[i]], int(labels[i]))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def probe(spark, sizes, ops=None, repeat=1):
    from fugue_warehouses_spark.extensions import dedup as D
    from fugue_warehouses_spark.extensions import similarity as S
    from fugue_warehouses_spark.plans.checkpoint import released_after

    out: dict[str, dict[int, float]] = {}

    def wanted(op):
        return ops is None or op in ops

    def timed(op, n, fn, force=False):
        # force: caller already passed a coarser group gate (e.g. the
        # bloom_crossover block times per-path/per-m names under one
        # --ops key)
        if not (force or wanted(op)):
            return
        # released_after per run: each op's localCheckpoint blocks are
        # freed before the next run starts, so repeated runs and long
        # op sequences survive tight heaps (8g) without relying on
        # Python gc -> py4j -> ContextCleaner timing. Pre-existing
        # blocks (the cached corpus, pre-built indexes) are untouched.
        times = []
        for _ in range(max(1, repeat)):
            with released_after(spark):
                t0 = time.perf_counter()
                fn()
                times.append(round(time.perf_counter() - t0, 2))
        out.setdefault(op, {})[n] = times[0] if repeat <= 1 else times
        print(f"[probe] {op} n={n}: {out[op][n]}s", file=sys.stderr, flush=True)

    EMB_ONLY = {
        "similarity_pairs_block",
        "ivf_topk_hash",
        "incremental_embedding_dedup",
        "incremental_embedding_dedup_ivf",
        "emb_probe_exact",
        "emb_probe_ivf",
        "embedding_ingest",
        "semantic_decon",
    }
    # synthesizes its own DISTRIBUTED corpus (1.28M rows never touch
    # the driver) — needs neither the docs nor the driver-built emb
    SELF_CONTAINED = {
        "embedding_ingest_deep",
        "global_cumsum",
        "global_cumsum_window",
        "pagerank_phases",
        "ann_recall",
        "audio_kernel",
        "bpe_iteration",
    }
    # part_pagerank per-phase attribution (round 11, VERDICT r10 next
    # #3): the facet's clean-window readings trended 1.88 -> 2.33 ->
    # 3.31 s across r9/r10 with git-verifiably unchanged code. The
    # facet (numeric part keys, ~edge count under the local gate) runs
    # graph.pagerank's DRIVER-LOCAL path, which has four separable
    # phases; timing each attributes any drift to the phase that moved
    # instead of re-litigating the whole row. Runs ONCE per invocation
    # (reads $SPARK_GRAFT_SF_DIR lineitem — corpus size is fixed by the
    # sf, not --sizes); recorded under n = edge count.
    if wanted("pagerank_phases"):
        import pandas as pd

        from fugue_warehouses_spark.extensions import graph as G

        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        phases: dict[str, list[float]] = {}
        n_edges = 0
        for _ in range(max(1, repeat)):
            with released_after(spark):
                t0 = time.perf_counter()
                edges = G.cooccurrence_edges(
                    li, "l_orderkey", "l_partkey"
                ).localCheckpoint(eager=False)
                n_edges = edges.count()
                phases.setdefault("edges", []).append(
                    round(time.perf_counter() - t0, 3)
                )
                t0 = time.perf_counter()
                ep = edges.select("src", "dst").toPandas()
                phases.setdefault("transfer", []).append(
                    round(time.perf_counter() - t0, 3)
                )
                t0 = time.perf_counter()
                node_vals = pd.unique(
                    pd.concat([ep["src"], ep["dst"]], ignore_index=True)
                )
                pos = pd.Series(np.arange(len(node_vals)), index=node_vals)
                s = pos[ep["src"]].to_numpy()
                d = pos[ep["dst"]].to_numpy()
                n_loc = len(node_vals)
                deg = np.bincount(s, minlength=n_loc).astype("float64")
                r = np.full(n_loc, 1.0 / n_loc)
                for _ in range(3):
                    contrib = np.bincount(
                        d, weights=r[s] / deg[s], minlength=n_loc
                    )
                    r = (1.0 - 0.85) / n_loc + 0.85 * contrib
                phases.setdefault("numpy", []).append(
                    round(time.perf_counter() - t0, 3)
                )
                t0 = time.perf_counter()
                res = spark.createDataFrame(
                    pd.DataFrame({"node": node_vals, "score": r})
                )
                res.select(
                    "node", F.round(F.col("score") * 1000, 6).alias("p")
                ).orderBy(F.col("p").desc(), F.col("node")).limit(100).count()
                phases.setdefault("result", []).append(
                    round(time.perf_counter() - t0, 3)
                )
        for ph, ts in phases.items():
            out.setdefault(f"pagerank_phase_{ph}", {})[n_edges] = (
                ts[0] if repeat <= 1 else ts
            )
            print(
                f"[probe] pagerank_phase_{ph} edges={n_edges}: {ts}",
                file=sys.stderr, flush=True,
            )
        # the whole facet under the same window, warm best-of-3, as the
        # cross-check that the phase sum reproduces the whole-facet reading
        from fugue_warehouses_spark.queries import QUERIES

        QUERIES["part_pagerank"](spark, sf_dir).count()  # warm
        best = float("inf")
        for _ in range(3):
            with released_after(spark):
                t0 = time.perf_counter()
                QUERIES["part_pagerank"](spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
        out.setdefault("pagerank_facet_best3", {})[n_edges] = round(best, 3)
        print(
            f"[probe] pagerank_facet_best3 edges={n_edges}: "
            f"{round(best, 3)}s",
            file=sys.stderr, flush=True,
        )
    # ANN quality harness (round 11, VERDICT r10 next #5): recall@10
    # against brute-force truth on the sf embeddings table, across the
    # serving parameters a 100 TB deployment must pick — IVF n_probe
    # and SRP-LSH table count. Answer identity at full probe is pinned
    # by tests (tests/test_similarity.py: full-probe recall == 1.0);
    # THIS records the curve between that point and the cheap end, so
    # parameter choices trade a measured recall against probe cost
    # instead of folklore. Keys in the output map are n_probe /
    # n_tables, not corpus sizes.
    if wanted("ann_recall"):
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        emb_t = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        ).cache()
        n_emb = emb_t.count()
        qs = emb_t.filter("vec_id < 100")
        truth = S.brute_force_topk(emb_t, qs, k=10).cache()
        truth.count()
        asg, cents = S.build_ivf_hash_index(
            emb_t, corpus_id="vec_id", corpus_vec="embedding"
        )
        asg = asg.cache()
        asg.count()
        cent_rows = cents.collect()
        n_cells = len(cent_rows)
        print(
            f"[probe] ann_recall corpus={n_emb} cells={n_cells}",
            file=sys.stderr, flush=True,
        )
        for n_probe in (1, 2, 4, 8, n_cells):
            r = S.recall_at_k(
                truth,
                S.ivf_topk_from_index(
                    asg, cents, qs, k=10, n_probe=n_probe,
                    centroid_rows=cent_rows,
                ),
            )
            out.setdefault("ann_recall_ivf_nprobe", {})[n_probe] = round(r, 4)
            print(
                f"[probe] ann_recall_ivf n_probe={n_probe}: {round(r, 4)}",
                file=sys.stderr, flush=True,
            )
        dim = len(emb_t.select("embedding").first()[0])
        # two plane counts: bucket population scales like corpus/2^planes,
        # so the RIGHT n_planes is corpus-size-dependent — recording
        # both shows the cliff (16 planes over a small corpus = near-zero
        # collisions = near-zero recall, however many tables)
        for n_planes in (8, 16):
            for n_tables in (1, 2, 4, 8):
                r = S.recall_at_k(
                    truth,
                    S.lsh_topk(
                        emb_t, qs, k=10, dim=dim,
                        n_planes=n_planes, n_tables=n_tables,
                    ),
                )
                key = f"ann_recall_lsh_p{n_planes}_tables"
                out.setdefault(key, {})[n_tables] = round(r, 4)
                print(
                    f"[probe] ann_recall_lsh planes={n_planes} "
                    f"n_tables={n_tables}: {round(r, 4)}",
                    file=sys.stderr, flush=True,
                )
        # matryoshka truncation axis: recall of first-d-dims cosine
        # top-k vs full-dim truth — the cost/quality trade of the
        # truncated first-stage retriever (embedding_matryoshka_topk);
        # d == full dim must reproduce truth exactly.
        for d in (8, 16, 32, dim):
            sliced = emb_t.select(
                "vec_id", F.slice("embedding", 1, d).alias("embedding")
            )
            r = S.recall_at_k(
                truth,
                S.brute_force_topk(
                    sliced, sliced.filter("vec_id < 100"), k=10
                ),
            )
            out.setdefault("ann_recall_matryoshka_dim", {})[d] = round(r, 4)
            print(
                f"[probe] ann_recall_matryoshka d={d}: {round(r, 4)}",
                file=sys.stderr, flush=True,
            )
        # int8 quantization axis, isolated from metric mismatch:
        # quantized_topk ranks by DOT product, brute truth by cosine,
        # so both sides run over UNIT-NORMALIZED vectors (cosine is
        # scale-invariant — normalized truth equals truth) and the
        # recall gap is pure quantization error. The norm is a
        # materialized column, never an expression inside the
        # transform lambda (the inlining hazard class).
        from fugue_warehouses_spark.extensions.quantization import (
            quantized_topk,
        )

        normed = (
            emb_t.withColumn(
                "__norm",
                F.sqrt(F.aggregate(
                    "embedding", F.lit(0.0), lambda a, x: a + x * x
                )),
            )
            .select(
                "vec_id",
                F.transform(
                    "embedding",
                    lambda x: x / F.greatest(F.col("__norm"), F.lit(1e-12)),
                ).alias("embedding"),
            )
        )
        qd = quantized_topk(
            normed, normed.filter("vec_id < 100"), k=10
        ).filter("query_id != match_id")
        r = S.recall_at_k(truth, qd)
        out.setdefault("ann_recall_quantized_int8", {})[8] = round(r, 4)
        print(
            f"[probe] ann_recall_quantized_int8: {round(r, 4)}",
            file=sys.stderr, flush=True,
        )
        truth.unpersist()
        asg.unpersist()
        emb_t.unpersist()
    for n in sizes:
        # the 250-token doc corpus takes minutes to synthesize at 320k;
        # embedding-only probe runs skip it entirely
        need_docs = ops is None or bool(set(ops) - EMB_ONLY - SELF_CONTAINED)
        docs = None
        if need_docs:
            docs = make_docs(spark, n).repartition(32).cache()
            docs.count()
        need_emb = ops is None or bool(set(ops) & EMB_ONLY)
        emb = None
        if need_emb:
            emb = make_embeddings(spark, n).repartition(32).cache()
            emb.count()

        # REAL WAV decode throughput, off-fixture (round 11): n one-
        # second clips (16000 samples @ 16 kHz ~= 32 KB WAV each),
        # synthesized + encoded DISTRIBUTED off spark.range (clips
        # never touch the driver) and cached as binary OUTSIDE the
        # timed region. The timed region is exactly the facet's
        # serving stage — RIFF decode + 160-sample framing + integer
        # features (multimodal.audio_features, decode_stub=False).
        # Linear-in-n wall time at fixed clip length == kernel-bound;
        # MB/s = n * (44 + 2*16000) / t.
        if wanted("audio_kernel"):
            from pyspark.sql import functions as _F

            from fugue_warehouses_spark.extensions import (
                multimodal as _MM,
            )

            def _gen_audio(batches):
                import numpy as np
                import pandas as pd

                from fugue_warehouses_spark.extensions.wav import (
                    encode_wav,
                )

                for pdf in batches:
                    ids = pdf["id"].astype("int64")
                    payloads = []
                    for did in ids:
                        v = (
                            (int(did) * 2654435761
                             + np.arange(16000, dtype=np.int64) * 40503)
                            % 65536
                        ) - 32768
                        payloads.append(
                            encode_wav(v.astype(np.int16), 16000)
                        )
                    yield pd.DataFrame({"id": ids, "payload": payloads})

            media = (
                spark.range(n)
                .select(_F.col("id"))
                .repartition(32)
                .mapInPandas(_gen_audio, "id long, payload binary")
                .cache()
            )
            media.count()
            timed(
                "audio_kernel", n,
                lambda: _MM.audio_features(
                    media, "payload", "id", decode_stub=False
                ).count(),
            )
            media.unpersist()

        # BPE merge-iteration cost vs VOCAB size (round 11): the
        # trainer's claim is that after the one corpus wordcount every
        # iteration is vocab-sized. Synthesize n DISTINCT words (8-char
        # base-26 encodings of spark.range ids — never driver-side),
        # uniform freq, then time ONE pair-count+argmax+merge step
        # (the unit that repeats k times). Expect linear in n past the
        # scheduling floor.
        if wanted("bpe_iteration"):
            from pyspark.sql import functions as _F

            from fugue_warehouses_spark.extensions.bpe import (
                _apply_merge,
                _pair_counts,
            )

            chars = _F.transform(
                _F.sequence(_F.lit(0), _F.lit(7)),
                lambda i: _F.chr(
                    (_F.col("id") / _F.pow(_F.lit(26.0), i.cast("double")))
                    .cast("long") % 26 + 97
                ),
            )
            seq = (
                spark.range(n)
                .repartition(32)
                .select(
                    _F.lit(1).cast("long").alias("freq"),
                    _F.concat(
                        _F.array_join(chars, " "), _F.lit(" </w>")
                    ).alias("s"),
                )
                .localCheckpoint()
            )

            def _one_iter():
                best = (
                    _pair_counts(seq)
                    .orderBy(_F.desc("c"), _F.asc("p"))
                    .limit(1)
                    .collect()
                )
                _apply_merge(seq, best[0]["p"]).count()

            timed("bpe_iteration", n, _one_iter)

        # distributed global cumsum (rank.add_global_cumsum) vs the
        # naive partition-less SUM() OVER (ORDER BY) window — the
        # single-task sort the operator exists to avoid. Synthetic
        # n-row frame (spark.range, never driver-side); heavily tied
        # sort key (1000 distinct) + unique tiebreak, the budget-
        # selection shape. Forced via an aggregate over the cumsum
        # column so column pruning can't elide the window.
        if wanted("global_cumsum") or wanted("global_cumsum_window"):
            from pyspark.sql import functions as _F
            from pyspark.sql.window import Window as _W

            from fugue_warehouses_spark.operators.rank import (
                add_global_cumsum,
            )

            base = (
                spark.range(n)
                .select(
                    _F.col("id").alias("k"),
                    ((_F.col("id") * 2654435761) % 1000).alias("grp"),
                    ((_F.col("id") * 97) % 100 + 1).alias("v"),
                )
                .repartition(32)
                .cache()
            )
            base.count()

            def _force_cumsum(df):
                df.agg(_F.sum("cum"), _F.max("cum")).collect()

            timed(
                "global_cumsum", n,
                lambda: _force_cumsum(add_global_cumsum(
                    base, [_F.desc("grp"), _F.asc("k")], "v",
                    cumsum_col="cum",
                )),
            )
            _w_global = _W.orderBy(_F.desc("grp"), _F.asc("k")).rowsBetween(
                _W.unboundedPreceding, _W.currentRow
            )
            timed(
                "global_cumsum_window", n,
                lambda: _force_cumsum(
                    base.withColumn("cum", _F.sum("v").over(_w_global))
                ),
            )
            base.unpersist()

        timed("exact_dedup", n, lambda: D.fingerprint_dedup(docs, "text", "doc_id").count())
        timed("minhash_near_dups", n, lambda: D.near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.6).count())
        timed("minhash_near_dups_capped", n, lambda: D.near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=0.6, max_bucket_size=64).count())
        if wanted("minhash_candidate_pairs"):
            # candidate-pair COUNT (not seconds): the attribution metric
            # for minhash growth — banding output before verification
            sig = D._shingle_minhash_numpy(docs, "doc_id", "text", 64, 5)
            n_cand = D.lsh_candidate_pairs(sig, "doc_id", "__sig", 8, 8).count()
            out.setdefault("minhash_candidate_pairs", {})[n] = n_cand
            print(f"[probe] minhash_candidate_pairs n={n}: {n_cand} rows",
                  file=sys.stderr, flush=True)
        # serving-handle durability: handled by serving_probe() (its
        # own two-process harness — see main()); requesting
        # serving_rebuild / serving_reopen here is a no-op.
        # (r11: the r10 in-session reopen timing was structurally
        # contaminated — see serving_probe's docstring.)
        timed("duplicate_span_coverage", n, lambda: D.duplicate_span_coverage(docs, "doc_id", "text").count())
        timed("incremental_dedup", n, lambda: D.incremental_dedup(
            docs.filter(f"doc_id >= {n // 2}"), docs.filter(f"doc_id < {n // 2}")).count())
        # Bloom-prefiltered exact dedup, rolling-corpus shape: bloom
        # bitset + fp table built once OUTSIDE the timed region (like
        # near_dedup_against_index's index); batch = newest 20%. The
        # timed probe moves the broadcast bitset + candidates only.
        if wanted("incremental_dedup_bloom"):
            from fugue_warehouses_spark.functions.text import fingerprint
            from pyspark.sql import functions as _F

            hist_b = docs.filter(f"doc_id < {n - n // 5}")
            m_bits = 1 << max(14, (n - n // 5) * 10 - 1).bit_length()
            bloom_b = D.fingerprint_bloom(
                hist_b, "text", m_bits=m_bits, k=5
            ).localCheckpoint()
            fps_b = (
                hist_b.select(fingerprint("text").alias("__fp"))
                .distinct()
                .localCheckpoint()
            )
            timed("incremental_dedup_bloom", n, lambda: D.incremental_dedup_bloom(
                docs.filter(f"doc_id >= {n - n // 5}"), hist_b,
                m_bits=m_bits, k=5, bloom_df=bloom_b, history_fp_df=fps_b,
            ).count())
        # dense vs sparse Bloom-probe crossover: the dense path collects
        # the bitset into a numpy array (m_bits/8 driver+broadcast
        # bytes) and probes in one vectorized Arrow pass; the sparse
        # path explodes k probes and broadcast-joins the bitset
        # relation. Auto currently routes dense for m_bits <= 2^29 —
        # this probe measures BOTH paths across the boundary so the
        # constant is a measurement, not an assertion. History/bitset
        # built once per m OUTSIDE the timed region (rolling shape).
        if wanted("bloom_crossover"):
            from fugue_warehouses_spark.functions.text import fingerprint

            hist_x = docs.filter(f"doc_id < {n - n // 5}")
            batch_x = docs.filter(f"doc_id >= {n - n // 5}")
            fps_x = (
                hist_x.select(fingerprint("text").alias("__fp"))
                .distinct()
                .localCheckpoint()
            )
            log_ms = [
                int(s)
                for s in os.environ.get(
                    "SPARK_GRAFT_BLOOM_LOGM", "26,27,28,29,30"
                ).split(",")
            ]
            for log_m in log_ms:
                # nested released_after: the per-m bitset checkpoint is
                # freed before the next m's (they reach 128 MB at 2^30)
                with released_after(spark):
                    bloom_x = D.fingerprint_bloom(
                        hist_x, "text", m_bits=1 << log_m, k=5
                    ).localCheckpoint()
                    for dense in (True, False):
                        name = (
                            f"bloom_{'dense' if dense else 'sparse'}"
                            f"_m2e{log_m}"
                        )
                        timed(name, n, lambda bx=bloom_x, d=dense,
                              m=1 << log_m: (
                            D.incremental_dedup_bloom(
                                batch_x, hist_x, m_bits=m, k=5,
                                bloom_df=bx, history_fp_df=fps_x,
                                dense_path=d,
                            ).count()
                        ), force=True)
        # incremental NEAR-dedup: index built once OUTSIDE the timed
        # region (that is the point — the rolling-corpus loop pays only
        # the batch signing per run), batch = the newest 20%
        if wanted("near_dedup_against_index") or wanted(
            "near_dedup_prebuilt_bands"
        ):
            idx = D.build_minhash_index(
                docs.filter(f"doc_id < {n - n // 5}"), "doc_id", "text"
            ).localCheckpoint()
            timed("near_dedup_against_index", n, lambda: D.near_dup_pairs_against_index(
                docs.filter(f"doc_id >= {n - n // 5}"), idx, "doc_id", "text",
                threshold=0.6, max_bucket_size=64).count())
            # round 8: prebuilt band table — the index-side banding
            # explode moves to build time (build_minhash_band_index);
            # the delta vs the row above is what re-banding the index
            # costs every batch
            if wanted("near_dedup_prebuilt_bands"):
                bands_pb = D.build_minhash_band_index(
                    idx, "doc_id"
                ).localCheckpoint()
                timed("near_dedup_prebuilt_bands", n, lambda: D.near_dup_pairs_against_index(
                    docs.filter(f"doc_id >= {n - n // 5}"), idx, "doc_id", "text",
                    threshold=0.6, max_bucket_size=64,
                    index_bands_df=bands_pb).count())
        # round 11: the same per-batch probe in SIGNATURE-verify mode
        # over a grams-free index — what the verify="signature" rolling
        # ingest pays per batch. Head-to-head vs
        # near_dedup_prebuilt_bands isolates the verify-stage delta
        # (fixed-width signature arrays vs corpus-text-scale grams).
        if wanted("near_dedup_signature_verify"):
            slim_idx = D.build_minhash_index(
                docs.filter(f"doc_id < {n - n // 5}"), "doc_id", "text",
                keep_grams=False,
            ).localCheckpoint()
            bands_sl = D.build_minhash_band_index(
                slim_idx, "doc_id"
            ).localCheckpoint()
            timed("near_dedup_signature_verify", n, lambda: D.near_dup_pairs_against_index(
                docs.filter(f"doc_id >= {n - n // 5}"), slim_idx, "doc_id",
                "text", threshold=0.6, max_bucket_size=64,
                index_bands_df=bands_sl, verify="signature").count())
        # deep-history TEXT near-dedup ingest (round 9, VERDICT r8 #3):
        # n is the PRE-SEEDED history (signature index + band table on
        # disk, the rolling pipeline's sunk cost); the timed work is a
        # fixed 2x8k-batch streamed run_near_dedup_ingest against it.
        # Pre-round-9 every micro-batch re-banded the WHOLE index (an
        # explode + xxhash LINEAR in history); with the rolling band
        # store (default) that term is precomputed, so
        # text_ingest_deep_banded should stay ~flat in n while
        # text_ingest_deep_reband grows with it.
        if docs is not None and (
            wanted("text_ingest_deep")
            or wanted("text_ingest_deep_banded")
            or wanted("text_ingest_deep_reband")
        ):
            import shutil
            import tempfile

            from fugue_warehouses_spark.plans import versioned as V
            from fugue_warehouses_spark.streaming import (
                read_parquet_stream,
                run_near_dedup_ingest,
            )

            batch16 = (
                make_docs(spark, 16_000, seed=5)
                .withColumn("doc_id", F.col("doc_id") + F.lit(n))
                .localCheckpoint()
            )
            # one tiny throwaway ingest (fresh dirs) absorbs the
            # stream machinery's first-run JIT/codegen so it doesn't
            # land on whichever variant runs first
            wd = tempfile.mkdtemp(prefix="wf_txt_ingest_warm_")
            try:
                batch16.limit(256).coalesce(1).write.parquet(f"{wd}/feed")
                run_near_dedup_ingest(
                    read_parquet_stream(spark, f"{wd}/feed"),
                    index_store=f"{wd}/idx",
                    survivors_path=f"{wd}/kept",
                    checkpoint_dir=f"{wd}/ckpt",
                    threshold=0.6,
                    max_bucket_size=64,
                    timeout_sec=600,
                ).count()
            finally:
                shutil.rmtree(wd, ignore_errors=True)

            # the n-doc history signed ONCE per size (sunk cost of the
            # rolling pipeline; both variants ingest against copies)
            hist_sig = D.build_minhash_index(
                docs, "doc_id", "text"
            ).localCheckpoint()
            hist_bands = D.build_minhash_band_index(
                hist_sig, "doc_id"
            ).localCheckpoint()

            def _deep_text(banded: bool, op: str, verify: str = "grams"):
                def _one_rep() -> float:
                    d = tempfile.mkdtemp(prefix="wf_txt_ingest_")
                    try:
                        V.write_version(
                            hist_sig.drop("__grams")
                            if verify == "signature" else hist_sig,
                            f"{d}/idx", spark,
                        )
                        if banded:
                            V.write_version(
                                hist_bands, f"{d}/idx_bands", spark
                            )
                        feed = f"{d}/feed"
                        # exactly TWO 8k micro-batches (one file each):
                        # per-batch work must dominate the per-job
                        # floor for the A/B delta to be readable
                        for i in range(2):
                            batch16.filter(
                                (F.col("doc_id") % 2) == i
                            ).coalesce(1).write.mode("append").parquet(feed)
                        t0 = time.perf_counter()
                        run_near_dedup_ingest(
                            read_parquet_stream(
                                spark, feed, max_files_per_trigger=1
                            ),
                            index_store=f"{d}/idx",
                            survivors_path=f"{d}/kept",
                            checkpoint_dir=f"{d}/ckpt",
                            threshold=0.6,
                            max_bucket_size=64,
                            band_store="auto" if banded else None,
                            timeout_sec=2400,
                            verify=verify,
                        ).count()
                        return round(time.perf_counter() - t0, 2)
                    finally:
                        shutil.rmtree(d, ignore_errors=True)

                # fresh stores per rep (ingest state is append-only);
                # best-of-2 so first-plan JIT doesn't charge whichever
                # variant runs first; failures recorded, not fatal
                reps = []
                for _ in range(2):
                    try:
                        with released_after(spark):
                            reps.append(_one_rep())
                    except Exception as exc:  # noqa: BLE001
                        reps.append(f"FAILED: {type(exc).__name__}")
                        break
                out.setdefault(op, {})[n] = (
                    min(r for r in reps if isinstance(r, float))
                    if any(isinstance(r, float) for r in reps)
                    else reps[-1]
                )
                print(
                    f"[probe] {op} n={n}: reps={reps} -> {out[op][n]}",
                    file=sys.stderr, flush=True,
                )

            # reband (the pre-round-9 shape) FIRST so any residual
            # session warmup biases AGAINST the band-table claim
            if wanted("text_ingest_deep") or wanted("text_ingest_deep_reband"):
                _deep_text(False, "text_ingest_deep_reband")
            if wanted("text_ingest_deep") or wanted("text_ingest_deep_banded"):
                _deep_text(True, "text_ingest_deep_banded")
            # round 11: the grams-free rolling ingest (slim pre-seeded
            # index, signature-estimated verify) — per-batch cost must
            # stay flat in history like the banded grams leg, with the
            # verify stage moving fixed-width arrays
            if wanted("text_ingest_deep") or wanted(
                "text_ingest_deep_signature"
            ):
                _deep_text(
                    True, "text_ingest_deep_signature", verify="signature"
                )
        # storage-only reconcile primitive: all-pairs banding + exact
        # verify + connected components straight from a STORED
        # signature frame — the maintenance-window cost of
        # reconcile_survivors, with the signature build (the ingest's
        # sunk cost) outside the timed region
        if wanted("reconcile_from_signatures"):
            import shutil
            import tempfile

            from fugue_warehouses_spark.extensions.dedup import (
                connected_components,
            )

            # signatures come FROM STORAGE in the real maintenance
            # window (the ingest's index + drop-log stores), so the
            # probe writes them to parquet outside the timed region
            # and times the storage-read -> pairs -> CC path
            sig_dir = tempfile.mkdtemp(prefix="wf_rec_sigs_")
            D.build_minhash_index(docs, "doc_id", "text").write.mode(
                "overwrite"
            ).parquet(sig_dir)

            def _reconcile():
                pairs = D.near_dup_pairs_from_signatures(
                    spark.read.parquet(sig_dir), "doc_id", threshold=0.6,
                    max_bucket_size=64,
                )
                comps = connected_components(pairs.select("id_a", "id_b"))
                comps.filter("id != component").count()

            timed("reconcile_from_signatures", n, _reconcile)
            shutil.rmtree(sig_dir, ignore_errors=True)
        # distributed exact global rank (the no-global-window primitive
        # behind equi-depth histograms and epoch shuffles): rank n*3
        # rows (3 epochs) — one range shuffle + offsets collect
        if wanted("epoch_shuffle_rank"):
            from fugue_warehouses_spark.extensions.sampling import (
                epoch_shuffle,
            )

            timed("epoch_shuffle_rank", n, lambda: epoch_shuffle(
                docs.select("doc_id"), "doc_id", epochs=3).count())
        # connected-components label propagation (round 11): the
        # resolution step behind dedup_near/_canonical and the
        # duplication profile. Synthetic DISTRIBUTED edge list — n/4
        # four-node chains — verifies the component count exactly and
        # times the propagate+path-halving loop. Expect ~linear in
        # edges with a round count that stays flat (diameter 3).
        if wanted("cc_label_prop"):
            edges = (
                spark.range(n)
                .filter(F.col("id") % 4 != 3)
                .select(
                    F.col("id").alias("id_a"),
                    (F.col("id") + 1).alias("id_b"),
                )
            )

            def _cc():
                comps = D.connected_components(edges)
                got = comps.select("component").distinct().count()
                assert got == n // 4, (got, n // 4)

            timed("cc_label_prop", n, _cc)
        # span-surgery decontamination (round 11): probe = every 50th
        # doc (2% benchmark), corpus = the rest. The corpus-side gram
        # explode is the linear term; the probe broadcast and the
        # candidate-sized rebuild join must NOT grow super-linearly.
        if wanted("decon_spans"):
            from fugue_warehouses_spark.extensions.contamination import (
                decontaminate_spans,
            )

            pr = docs.filter(F.col("doc_id") % 50 == 0)
            corp = docs.filter(F.col("doc_id") % 50 != 0)
            timed("decon_spans", n, lambda: decontaminate_spans(
                corp, pr, n=4).count())
        # token-balanced shard planning (round 11): one range exchange
        # + O(#partitions) offsets + shard groupBy — expected ~linear,
        # flat in n_shards.
        if wanted("balanced_shards"):
            from fugue_warehouses_spark.functions.text import token_count
            from fugue_warehouses_spark.operators.layout import (
                token_balanced_shards,
            )

            weighted = docs.select(
                "doc_id", token_count("text").alias("w")
            )
            timed("balanced_shards", n, lambda: token_balanced_shards(
                weighted, "doc_id", "w", 64
            ).groupBy("shard").count().count())
        # rolling semantic dedup: history = the oldest 80%, batch the
        # newest 20% — exact (k=1 BLAS vs streaming history) and
        # index-served (persisted IVF, full-probe) shapes; the index
        # is built OUTSIDE the timed region (rolling pipelines read it
        # from the store)
        if emb is not None and (
            wanted("incremental_embedding_dedup")
            or wanted("incremental_embedding_dedup_ivf")
        ):
            hist_e = emb.filter(f"vec_id < {n - n // 5}")
            batch_e = emb.filter(f"vec_id >= {n - n // 5}")
            timed("incremental_embedding_dedup", n, lambda: (
                S.incremental_embedding_dedup(
                    batch_e, hist_e, threshold=0.9
                ).count()))
            # n_centroids=None -> ~sqrt(|hist|) cells (512 at 256k),
            # probed at 1/8 — the production geometry; the r6 probe's
            # fixed 64 cells made per-cell copies eat the FLOP saving
            asg, cents = S.build_ivf_hash_index(hist_e)
            asg = asg.localCheckpoint()
            cent_rows = cents.collect()
            n_probe = max(1, len(cent_rows) // 8)
            timed("incremental_embedding_dedup_ivf", n, lambda: (
                S.incremental_embedding_dedup(
                    batch_e, assigned=asg, centroids=cents,
                    centroid_rows=cent_rows, threshold=0.9,
                    n_probe=n_probe,
                ).count()))
        # semantic decontamination (round 11): fixed 256-vector
        # benchmark in the closure, corpus streams through the
        # GEMM+row-max kernel — expect linear in n with no shuffle
        if emb is not None and wanted("semantic_decon"):
            bench_e = emb.filter("vec_id < 256")
            timed("semantic_decon", n, lambda: (
                S.decontaminate_semantic(
                    emb.filter("vec_id >= 256"), bench_e, threshold=0.3
                ).count()))
        # probe PRIMITIVES in isolation: the full dedup op shares its
        # within-batch resolution term (batch^2 FLOPs) between both
        # strategies, which floors the full-op ratio near 2x at this
        # batch size; the index's value proposition is the history
        # probe alone, so measure that head-to-head
        if emb is not None and (
            wanted("emb_probe_exact") or wanted("emb_probe_ivf")
        ):
            hist_e = emb.filter(f"vec_id < {n - n // 5}")
            batch_e = emb.filter(f"vec_id >= {n - n // 5}")
            timed("emb_probe_exact", n, lambda: (
                S.max_cosine_against(hist_e, batch_e)
                .filter("max_sim >= 0.9").count()))
            asg, cents = S.build_ivf_hash_index(hist_e)
            asg = asg.localCheckpoint()
            cent_rows = cents.collect()
            n_probe = max(1, len(cent_rows) // 8)
            timed("emb_probe_ivf", n, lambda: (
                S._ivf_threshold_hits(
                    asg, batch_e, 0.9, n_probe, None, cent_rows,
                    "embedding", "vec_id", "embedding", 6,
                ).count()))
        # streaming embedding-dedup ingest (round 7): drain the corpus
        # in FIXED-size micro-batches (16k — the operator family's
        # bounded-batch contract; per-batch cost = one scan of the
        # accepted-so-far store + bounded within-batch work, so the
        # drain grows ~linearly in n with a serial-batch floor).
        # n/4-sized batches were probed first and are the WRONG shape:
        # at 320k they put an 80k-vector pair graph + CC inside every
        # micro-batch (distributed per-batch path, stream-thread
        # StackOverflow before -Xss16m, >1200 s) — that regime belongs
        # to the batch operator, not an ingest loop.
        if emb is not None and wanted("embedding_ingest"):
            import shutil
            import tempfile

            from fugue_warehouses_spark.streaming import (
                read_parquet_stream,
                run_embedding_dedup_ingest,
            )

            def _ingest():
                d = tempfile.mkdtemp(prefix="wf_emb_ingest_")
                try:
                    feed = f"{d}/feed"
                    n_batches = max(1, n // 16_000)
                    for i in range(n_batches):
                        emb.filter(
                            (F.col("vec_id") % n_batches) == i
                        ).coalesce(4).write.mode("append").parquet(feed)
                    run_embedding_dedup_ingest(
                        read_parquet_stream(
                            spark, feed, max_files_per_trigger=4
                        ),
                        index_store=f"{d}/idx",
                        survivors_path=f"{d}/kept",
                        checkpoint_dir=f"{d}/ckpt",
                        dropped_store=f"{d}/dropped",
                        threshold=0.9,
                        timeout_sec=2400,
                    ).count()
                finally:
                    shutil.rmtree(d, ignore_errors=True)

            timed("embedding_ingest", n, _ingest)
        # deep-history regime (round 8, VERDICT r7 #5): the drain probe
        # above grows history and batch count together, so its total is
        # batch-floor dominated. HERE n is the PRE-SEEDED history and
        # the work is a fixed 4x16k-batch ingest against it — the
        # steady-state shape of a long-running ingest pipeline, where
        # the question is how PER-BATCH cost grows with history depth:
        # exact probes scan the whole accepted store per batch (linear
        # in history), rolling-IVF probes only the queries' top-1/8
        # cells (probe-proportional, flat-ish). History is synthesized
        # DISTRIBUTED (mapInPandas) — 1.28M rows never touch the
        # driver.
        if wanted("embedding_ingest_deep"):
            import shutil
            import tempfile

            import pandas as pd

            from fugue_warehouses_spark.plans import versioned as V
            from fugue_warehouses_spark.streaming import (
                read_parquet_stream,
                run_embedding_dedup_ingest,
            )

            dim = 64
            centers = np.random.default_rng(7).normal(size=(10, dim))

            def _gen(batches):
                for pdf in batches:
                    rng = np.random.default_rng(
                        1000 + int(pdf["id"].iloc[0])
                    )
                    ids = pdf["id"].to_numpy()
                    labels = rng.integers(0, 10, size=len(ids))
                    vecs = centers[labels] + rng.normal(
                        scale=2.0, size=(len(ids), dim)
                    )
                    yield pd.DataFrame(
                        {"vec_id": ids, "embedding": list(vecs)}
                    )

            def _mk(lo: int, hi: int):
                return (
                    spark.range(lo, hi)
                    .repartition(32)
                    .mapInPandas(_gen, "vec_id long, embedding array<double>")
                )

            hist_e = _mk(0, n).localCheckpoint()
            batch_total = 64_000
            feed_src = _mk(n, n + batch_total).localCheckpoint()

            def _deep(ivf: bool):
                d = tempfile.mkdtemp(prefix="wf_emb_deep_")
                try:
                    feed = f"{d}/feed"
                    for i in range(4):  # 4 x 16k fixed batches
                        feed_src.filter(
                            (F.col("vec_id") % 4) == i
                        ).coalesce(4).write.mode("append").parquet(feed)
                    cents_store = None
                    if ivf:
                        asg, cents = S.build_ivf_hash_index(
                            hist_e, corpus_id="vec_id",
                            corpus_vec="embedding",
                        )
                        V.write_version(asg, f"{d}/idx", spark)
                        V.write_version(cents, f"{d}/cents", spark)
                        cents_store = f"{d}/cents"
                        n_probe = max(1, cents.count() // 8)
                    else:
                        V.write_version(
                            hist_e.select("vec_id", "embedding"),
                            f"{d}/idx",
                            spark,
                        )
                        n_probe = None
                    t0 = time.perf_counter()
                    run_embedding_dedup_ingest(
                        read_parquet_stream(
                            spark, feed, max_files_per_trigger=4
                        ),
                        index_store=f"{d}/idx",
                        survivors_path=f"{d}/kept",
                        checkpoint_dir=f"{d}/ckpt",
                        threshold=0.9,
                        timeout_sec=2400,
                        centroids_store=cents_store,
                        n_probe=n_probe,
                    ).count()
                    # report the timed INGEST only (index pre-seed is
                    # the pipeline's sunk cost, not per-batch work)
                    out.setdefault(
                        "embedding_ingest_deep_ivf" if ivf
                        else "embedding_ingest_deep_exact",
                        {},
                    )[n] = round(time.perf_counter() - t0, 2)
                    print(
                        f"[probe] embedding_ingest_deep_"
                        f"{'ivf' if ivf else 'exact'} n={n}: "
                        f"{out['embedding_ingest_deep_ivf' if ivf else 'embedding_ingest_deep_exact'][n]}s",
                        file=sys.stderr,
                        flush=True,
                    )
                finally:
                    shutil.rmtree(d, ignore_errors=True)

            with released_after(spark):
                _deep(False)
            with released_after(spark):
                _deep(True)
        timed("similarity_pairs_block", n, lambda: S.similarity_pairs(
            emb, threshold=0.35, method="block").count())
        timed("ivf_topk_hash", n, lambda: S.ivf_topk_hash(
            emb, emb.filter("vec_id < 10"), k=10).count())

        if docs is not None:
            docs.unpersist()
        if emb is not None:
            emb.unpersist()
    return out


SERVING_OPS = {"serving_rebuild", "serving_reopen"}


def _serving_build_phase(sizes: list[int], repeat: int, root: str) -> dict:
    """Build-cluster leg of the serving probe: synthesize each corpus,
    time REBUILD (sign the 80% history + band + write both tables to
    the versioned store — corpus-proportional), leave the stores on
    disk for the reopen phase, exit (the JVM dies with the process)."""
    from fugue_warehouses_spark.extensions import dedup as D
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.plans.checkpoint import released_after

    spark = get_spark(
        app_name="wf-serving-build",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            **pinned_heap_conf(),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[int, object]] = {}
    for n in sizes:
        docs = make_docs(spark, n).repartition(32).cache()
        docs.count()
        hist = docs.filter(f"doc_id < {n - n // 5}")
        store = os.path.join(root, str(n))
        slim = os.environ.get("WF_PROBE_SLIM") == "1"
        ts = []
        for _ in range(max(1, repeat)):
            with released_after(spark):
                t0 = time.perf_counter()
                sig = D.build_minhash_index(
                    hist, "doc_id", "text", keep_grams=not slim
                )
                V.write_version(sig, os.path.join(store, "sigs"), spark)
                back = V.read_version(spark, os.path.join(store, "sigs"))
                V.write_version(
                    D.build_minhash_band_index(back, "doc_id"),
                    os.path.join(store, "bands"),
                    spark,
                )
                ts.append(round(time.perf_counter() - t0, 2))
        out.setdefault("serving_rebuild", {})[n] = (
            ts[0] if repeat <= 1 else ts
        )
        sig_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(os.path.join(store, "sigs"))
            for f in fs
        )
        out.setdefault("serving_sigs_store_mb", {})[n] = round(
            sig_bytes / 1e6, 1
        )
        print(f"[probe] serving_rebuild n={n}: {ts} "
              f"(sigs store {round(sig_bytes / 1e6, 1)} MB, "
              f"slim={slim})",
              file=sys.stderr, flush=True)
        docs.unpersist()
    spark.stop()
    return out


def _serving_reopen_phase(sizes: list[int], repeat: int, root: str) -> dict:
    """Serving-process leg: a process that NEVER built anything (and
    whose heap is sized to the index it serves, not to a corpus) reads
    both stored tables back and materializes them in memory —
    index-proportional, zero corpus scans. One untimed trivial job
    absorbs executor-thread spinup + codegen init; the timed region is
    exactly the two table materializations, which is the scaling claim
    (session startup is a constant — executor provisioning on a real
    cluster)."""
    # must be set BEFORE the JVM launches; the serving child holds a
    # few hundred MB of index, and a corpus-sized pinned -Xms here
    # would first-touch tens of GB for nothing
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.plans.checkpoint import released_after

    spark = get_spark(
        app_name="wf-serving-reopen",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            **pinned_heap_conf(),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).repartition(8).count()
    out: dict[str, dict[int, object]] = {}
    for n in sizes:
        store = os.path.join(root, str(n))
        ts = []
        for _ in range(max(1, repeat)):
            with released_after(spark):
                t0 = time.perf_counter()
                for t in ("sigs", "bands"):
                    df = V.read_version(spark, os.path.join(store, t))
                    df.persist()
                    df.count()
                ts.append(round(time.perf_counter() - t0, 2))
        out.setdefault("serving_reopen", {})[n] = (
            ts[0] if repeat <= 1 else ts
        )
        print(f"[probe] serving_reopen n={n}: {ts}",
              file=sys.stderr, flush=True)
    spark.stop()
    return out


def serving_probe(sizes: list[int], repeat: int, slim: bool = False) -> dict:
    """Serving-handle durability, measured in its real topology
    (round 11): a BUILD process writes the versioned store and exits;
    a separate SERVING process re-opens it. Each phase is a
    subprocess with its own JVM, run sequentially — never co-tenant.

    Why not in-session (the r10 form): PySpark's gateway JVM survives
    SparkContext.stop(), so any 'fresh session' in the same process
    inherits the build's pinned corpus-sized heap; and timing the
    reopen while the build JVM is alive measures two 32-thread JVMs
    fighting over first-touch allocation and GC threads, not the
    operator. The r10 table's '80k reopen above 320k' inversion
    (VERDICT r10 wrong #3) was THIS, reproduced on a clean window by
    a decomposed re-run (2.5-25 s spread on identical work with a
    co-tenant JVM; 1.8 s quiet) — probe-methodology defect, not
    tenancy and not the operator."""
    import shutil
    import subprocess
    import tempfile

    root = tempfile.mkdtemp(prefix="wf_serving_probe_")
    env = dict(os.environ)
    if slim:
        # signature-only index (keep_grams=False): the TB-scale
        # serving mode verify="signature" serves from — ~11x smaller
        # store, same banding
        env["WF_PROBE_SLIM"] = "1"
    out: dict = {}
    try:
        for phase in ("build", "reopen"):
            proc = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--serving-phase", phase,
                    "--sizes", ",".join(str(s) for s in sizes),
                    "--repeat", str(repeat),
                    "--store-root", root,
                ],
                stdout=subprocess.PIPE, stderr=sys.stderr,
                text=True, timeout=7200, env=env,
            )
            if proc.returncode != 0:
                raise RuntimeError(
                    f"serving {phase} phase failed rc={proc.returncode}"
                )
            line = [
                ln for ln in proc.stdout.splitlines() if ln.startswith("{")
            ][-1]
            out.update(json.loads(line))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="5000,20000,80000")
    ap.add_argument("--ops", default=None, help="comma list; default all")
    ap.add_argument(
        "--repeat", type=int, default=1,
        help="timed runs per op in ONE session (each scoped by "
        "released_after); records a list when > 1",
    )
    ap.add_argument(
        "--serving-phase", choices=["build", "reopen"], default=None,
        help="internal: run ONE leg of serving_probe in this process",
    )
    ap.add_argument("--store-root", default=None, help="internal")
    ap.add_argument(
        "--serving-slim", action="store_true",
        help="serving probe builds a signature-only index "
        "(keep_grams=False) — the verify='signature' store",
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    ops = set(args.ops.split(",")) if args.ops else None
    if args.serving_phase:
        phase_fn = (
            _serving_build_phase if args.serving_phase == "build"
            else _serving_reopen_phase
        )
        out = phase_fn(sizes, args.repeat, args.store_root)
        sys.stdout.flush()
        print(json.dumps(out), flush=True)
        return
    out = {}
    non_serving = None if ops is None else (ops - SERVING_OPS)
    if non_serving is None or non_serving:
        # -Xms pinned by default: a growing heap full-GCs at every
        # expansion step under checkpoint-heavy probes (SCALE_NOTES r6);
        # SPARK_GRAFT_DRIVER_JAVA_OPTS overrides
        spark = get_spark(
            app_name="wf-scale-probe",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                **pinned_heap_conf(),
            },
        )
        out = probe(spark, sizes, non_serving, repeat=args.repeat)
        spark.stop()
    if ops is None or (ops & SERVING_OPS):
        # after the main session stopped: the gateway JVM of THIS
        # process is the only leftover, and the serving legs run as
        # their own processes (see serving_probe)
        out.update(serving_probe(sizes, args.repeat, slim=args.serving_slim))
    sys.stdout.flush()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
