"""Physical-plan audit — writes BENCH/PLANS.md.

The brief's discipline: after an operator works, `.explain("formatted")`
it and keep iterating until the plan is the one you'd *want* at 100TB.
This tool freezes that audit into a reviewable artifact: for each
headline operator it prints the formatted physical plan plus the checked
properties (pushdown, pruning, broadcast, shuffle count, Python node
count), so plan regressions show up as a diff of BENCH/PLANS.md.

The same properties are enforced as assertions in tests/test_plans.py;
this file is the human-readable evidence.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _simple(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _props(plan: str) -> dict[str, object]:
    return {
        "exchanges (shuffles)": len(re.findall(r"Exchange hashpartitioning", plan)),
        "broadcast joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort-merge joins": len(re.findall(r"SortMergeJoin", plan)),
        "python nodes": len(
            re.findall(r"FlatMapGroupsIn(?:Pandas|Arrow)|ArrowEvalPython|MapInPandas|MapInArrow|BatchEvalPython", plan)
        ),
        "row-at-a-time python (BatchEvalPython)": len(re.findall(r"BatchEvalPython", plan)),
        "pushed filters": bool(re.search(r"DataFilters: \[.*isnotnull", plan)),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from prefix_filter_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")

    # (name, builder, note about what the plan must show)
    audits = [
        ("tpch_q1", entrymod.q_tpch_q1,
         "filter pushdown to parquet scan, column pruning, zero Python nodes, "
         "whole-stage codegen over the agg"),
        ("top_customers", entrymod.q_top_customers,
         "small dims broadcast (no shuffle of the fact side for the join)"),
        ("prefix_filter_build", None,  # direct build plan, see below
         "single hash-partitioning exchange into one grouped-pandas node; "
         "only the 8-byte hash column crosses the Arrow pipe"),
        ("prefix_filter_probe", None,
         "scan -> xxhash64 -> ArrowEvalPython over broadcast state, no shuffle"),
        ("minhash_lsh_dedup", entrymod.q_minhash_lsh_dedup,
         "signatures fully JVM (no Python); candidate pairs broadcast into the "
         "exact-verification join; r4: small/big bucket split for the "
         "hot-bucket cap duplicates the bucket subtree in the STATIC plan "
         "(AQE reuses the identical exchanges at runtime, +0.3s measured)"),
        ("embedding_topk", entrymod.q_embedding_topk,
         "query vectors broadcast; per-partition top-k before the global top-k"),
        ("salted_source_counts", entrymod.q_salted_source_counts,
         "two-phase agg: salted partial then final — skewed `source` keys never "
         "concentrate in one task"),
        ("runtime_filter_join", None,
         "fact scan -> ArrowEvalPython filter probe (map-side, before any "
         "exchange) -> broadcast join; the join's input is the pruned fact"),
        ("kmv_build", None,
         "map-side partials (MapInArrow over the value column only) + "
         "log-fanout tree merge of tiny state rows; no data shuffle"),
        ("mg_build", None,
         "same partials + tree-merge shape as kmv/hll: MapInArrow over "
         "the token column, no data shuffle"),
        ("sequence_packing", None,
         "NO global-order Window (the single-task cliff); one hash "
         "exchange on the range bucket into MapInPandas"),
        ("mixture_sample_bernoulli", None,
         "map-only: scan -> hash filter, zero exchanges, zero sorts, "
         "zero Python nodes"),
        ("srp_near_dup_pairs", None,
         "ids-only band-bucket grouping (r4: capped grid decomposition, "
         "no self-join); vectors attach only at the candidate "
         "verification joins"),
        ("semdedup_pairs", None,
         "map-only centroid assignment (broadcast centroids, no data "
         "shuffle); r4: candidates from the capped bucket generator on "
         "cluster_id (ids only — the corpus-with-vectors is never the "
         "skewed join side); cosine verify on candidates"),
        ("hot_bucket_pairs_capped", None,
         "r4 grid decomposition: bucket groupBy, small/big split, cells "
         "REPARTITIONED by (key, cell) so one hot bucket's quadratic "
         "pair emission spreads across tasks"),
        ("lm_perplexity", None,
         "bigram + KN-trigram explodes are map-side Catalyst (pre-"
         "projected word array, sequence/transform, no self-join); "
         "count-table joins sized by AQE (KN: 5 vocab-scale broadcasts); "
         "one groupBy(doc_id) average per arm; zero Python nodes"),
        ("pii_redact", None,
         "map-only: scan -> regexp_replace projection, zero exchanges, "
         "zero Python nodes"),
        ("table_profile", None,
         "ONE parquet scan + ONE aggregate for all columns (Expand for "
         "multi-distinct), map-side unpivot; zero Python nodes"),
        ("epoch_shards", None,
         "scale path: one hash exchange + parallel per-shard windows — "
         "never a global sort"),
        ("quantize_embeddings", None,
         "map-only: scan -> transform/aggregate projection, zero "
         "exchanges, zero Python nodes"),
        ("decontaminate", None,
         "corpus shingles probe the benchmark filter map-side "
         "(ArrowEvalPython BEFORE any exchange); only survivors reach "
         "the verify semi-join + per-doc count"),
        ("map_enrich", None,
         "the join-replacement contract: fact scan -> guard + lookup "
         "ArrowEvalPython projections, ZERO exchanges — the dim rides "
         "as a broadcast retrieval map, the fact never shuffles"),
        ("pq_encode", None,
         "compressed-mirror write path: scan -> ONE ArrowEvalPython "
         "projection (codebooks ride a broadcast), ZERO exchanges — "
         "the m-byte code column costs one map-only pass"),
        ("pq_adc_topk", None,
         "ADC scan: corpus streams once through MapInPandas (encode + "
         "LUT gather + per-partition top-k); the only exchange is the "
         "final window over partitions x queries x k candidate rows — "
         "the corpus itself never shuffles"),
        ("fd_build", None,
         "matrix sketch: same partials + tree-merge shape as kmv/hll — "
         "MapInArrow over the embedding column, tiny state rows, no "
         "data shuffle"),
    ]

    out = [
        "# Physical-plan audit (generated by tools/plan_audit.py)\n",
        f"Scale factor dir: `{sf_dir}`. Properties below are also "
        "pytest-enforced (tests/test_plans.py); this file is the "
        "human-readable evidence and regression diff surface.\n",
    ]
    def _pf_build_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.sketches import prefix_filter as pfm

        keys = spark.range(100_000).select(F.col("id").alias("key"))
        cfg = pfm.PrefixFilterConfig(n_capacity=100_000, num_shards=16, seed=42)
        return pfm.build_prefix_filter(keys, "key", cfg), cfg, keys

    def _pf_probe_df():
        from prefix_filter_spark.functions import register_contains_udf
        from prefix_filter_spark.sketches import prefix_filter as pfm

        built, cfg, keys = _pf_build_df()
        handle = pfm.ShardedPrefixFilter.from_df(cfg, built)
        fn = register_contains_udf(spark, "audit_pf", handle, cfg.seed)
        return keys.where(fn("key"))

    def _rf_join_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators.filter_join import runtime_filter_join

        fact = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        dim = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return runtime_filter_join(spark, fact, dim, "l_orderkey", "o_orderkey")

    def _kmv_build_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.sketches import kmv

        keys = spark.range(200_000).select(F.xxhash64("id", F.lit(5)).alias("h"))
        return kmv.build_kmv(keys, "h", kmv.KmvConfig(k=2048, seed=42))

    def _mg_build_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.sketches import mg
        from prefix_filter_spark.sources.tokenizer import words_col

        words = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.explode(words_col("text")).alias("word")
        )
        return mg.build_mg(words, "word", mg.MgConfig(k=256))

    def _packing_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators.packing import pack_assignments
        from prefix_filter_spark.sources.tokenizer import words_col

        toks = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.size(words_col("text")).alias("n_tok")
        )
        return pack_assignments(toks, "doc_id", "n_tok", budget=2048, num_buckets=8)

    def _bernoulli_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators.sampling import bernoulli_sample

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return bernoulli_sample(docs, 0.25, F.xxhash64("doc_id", F.lit(3)))

    def _srp_near_dup_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators.dedup import srp_near_dup_pairs

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        return srp_near_dup_pairs(emb, threshold=0.95, bands=8)

    def _semdedup_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators.dedup import semdedup_pairs

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        return semdedup_pairs(emb, threshold=0.95, nlist=16)

    def _decontam_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators.decontaminate import contaminated_docs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return contaminated_docs(
            spark,
            docs.where(F.col("doc_id") % 17 != 0),
            docs.where(F.col("doc_id") % 17 == 0),
        )

    def _lm_df():
        import __spark_entry__ as em

        return em.q_lm_perplexity(spark, sf_dir)

    def _pii_df():
        from prefix_filter_spark.operators.pii import redact_pii

        return redact_pii(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    def _quant_df():
        from prefix_filter_spark.operators.quantize import quantize_embeddings

        return quantize_embeddings(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        )

    def _profile_df():
        from prefix_filter_spark.operators.profile import table_profile

        return table_profile(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            ["doc_id", "source", "n_chars"],
        )

    def _epoch_df():
        from prefix_filter_spark.operators.ordering import epoch_shards

        return epoch_shards(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            epoch=1,
            num_shards=8,
        )

    def _hot_bucket_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators.dedup import _bucket_candidate_pairs

        members = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            F.lit(0).alias("band"),
            (F.col("doc_id") % 3).alias("h"),
        )
        return _bucket_candidate_pairs(members, ["band", "h"], "doc_id", cap=32)

    def _map_enrich_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators.map_enrich import (
            build_enrichment_map,
            enrich,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dim = docs.select("source").distinct().select(
            "source", F.pmod(F.xxhash64("source", F.lit(9)), F.lit(256)).alias("b")
        )
        em = build_enrichment_map(dim, "source", "b", value_bits=8, seed=31)
        return enrich(spark, docs, "source", em, "src_bucket", udf_prefix="audit_me")

    def _pq_encode_df():
        from prefix_filter_spark.operators import pq

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        books = pq.pq_train_codebooks(emb, pq.PqConfig(m=8, k=64, seed=7))
        return pq.pq_encode(emb, books)

    def _pq_adc_df():
        from pyspark.sql import functions as F

        from prefix_filter_spark.operators import pq

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        books = pq.pq_train_codebooks(emb, pq.PqConfig(m=8, k=64, seed=7))
        return pq.pq_adc_topk(emb, q, k=5, books=books)

    def _fd_build_df():
        from prefix_filter_spark.sketches import fd

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dim = len(emb.select("embedding").first()["embedding"])
        return fd.build_fd(emb, "embedding", fd.FdConfig(ell=16, dim=dim))

    direct = {"prefix_filter_build": lambda: _pf_build_df()[0],
              "pq_encode": _pq_encode_df,
              "pq_adc_topk": _pq_adc_df,
              "fd_build": _fd_build_df,
              "map_enrich": _map_enrich_df,
              "hot_bucket_pairs_capped": _hot_bucket_df,
              "lm_perplexity": _lm_df,
              "pii_redact": _pii_df,
              "quantize_embeddings": _quant_df,
              "table_profile": _profile_df,
              "epoch_shards": _epoch_df,
              "prefix_filter_probe": _pf_probe_df,
              "runtime_filter_join": _rf_join_df,
              "kmv_build": _kmv_build_df,
              "mg_build": _mg_build_df,
              "sequence_packing": _packing_df,
              "mixture_sample_bernoulli": _bernoulli_df,
              "srp_near_dup_pairs": _srp_near_dup_df,
              "semdedup_pairs": _semdedup_df,
              "decontaminate": _decontam_df}

    for name, fn, note in audits:
        df = direct[name]() if fn is None else fn(spark, sf_dir)
        plan = _simple(df)
        props = _props(plan)
        out.append(f"\n## {name}\n")
        out.append(f"**Must show**: {note}\n")
        out.append("**Measured**: " + ", ".join(f"{k}={v}" for k, v in props.items()) + "\n")
        fmt = _formatted(df)
        # formatted plans are long; keep the operator tree + first details
        tree = fmt.split("\n\n")[0]
        out.append("```\n" + tree.strip()[:4000] + "\n```\n")
        print(f"{name}: {props}")

    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
