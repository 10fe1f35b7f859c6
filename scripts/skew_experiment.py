#!/usr/bin/env python
"""Skew-path experiments on the Zipf variant (judge VERDICT r5 #4).

Runs against the skewed dataset written by ``make_scaled_data.py --zipf``
(default ``/root/repo/var/sf0.1-zipf``) and prints one JSON line per
experiment; results are recorded in SCALE.md's skew section.

Experiments:
  jaccard   — naive inverted-index join vs the PPJoin prefix variant on
              the boilerplate-skewed corpus, plus a pair-set equality
              check (prefix filtering must stay lossless under skew);
  salted    — per-hub-supplier aggregation over the zipf lineitem,
              salted two-phase vs plain single-shuffle, result-equality
              checked;
  aqe       — sort-merge join lineitem⋈supplier on the hub-skewed
              suppkey with AQE skew-join on vs off: asserts the
              optimizedSkewedJoin marker appears and compares times;
  linkpred  — Adamic-Adar wedge with the per-center neighbor cap at its
              production value (128) vs effectively uncapped, on the
              hub-supplier co-service graph.

Each experiment creates its own fresh session where timing matters
(matching bench.py --isolated); the script is a tool for SCALE.md
evidence, not part of the driver surface.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ZIPF_DIR = os.environ.get("SPARK_GRAFT_ZIPF_DIR", "/root/repo/var/sf0.1-zipf")


def _fresh_spark(name: str, extra: dict | None = None):
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.session import (
        get_spark,
    )

    return get_spark(app_name=name, extra_conf=extra or {})


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.count()
    return round(time.perf_counter() - t0, 3)


def exp_jaccard() -> None:
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
        registry,
    )

    specs = registry.all_specs()
    spark = _fresh_spark("skew-jaccard")
    spark.sparkContext.setLogLevel("ERROR")
    naive = specs["dd_ngram_jaccard"].builder
    prefix = specs["dd_ngram_jaccard_prefix"].builder
    naive(spark, ZIPF_DIR).count()  # warm
    t_naive = _timed(naive(spark, ZIPF_DIR))
    prefix(spark, ZIPF_DIR).count()
    t_prefix = _timed(prefix(spark, ZIPF_DIR))
    a = {(r["a_id"], r["b_id"]) for r in naive(spark, ZIPF_DIR).collect()}
    b = {(r["a_id"], r["b_id"]) for r in prefix(spark, ZIPF_DIR).collect()}
    print(json.dumps({
        "experiment": "jaccard_skew",
        "naive_sec": t_naive,
        "prefix_sec": t_prefix,
        "speedup": round(t_naive / t_prefix, 2),
        "pairs": len(a),
        "lossless": a == b,
    }))


def exp_salted() -> None:
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators.skew import (
        salted_group_agg,
    )

    spark = _fresh_spark("skew-salted")
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{ZIPF_DIR}/lineitem.parquet")
    plain = li.groupBy("l_suppkey").agg(
        F.count("*").alias("cnt"),
        (F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")) / 100.0)
        .alias("sum_value"),
    )
    salted = salted_group_agg(
        li, "l_suppkey", "l_quantity",
        salt_cols=("l_orderkey", "l_linenumber", "l_quantity"),
    ).select("l_suppkey", "cnt", "sum_value")
    plain.count(); salted.count()  # warm
    t_plain = _timed(plain)
    t_salted = _timed(salted)
    eq = (
        plain.alias("p").join(salted.alias("s"), "l_suppkey")
        .filter(
            (F.col("p.cnt") != F.col("s.cnt"))
            | (F.abs(F.col("p.sum_value") - F.col("s.sum_value")) > 1e-6)
        ).count() == 0
        and plain.count() == salted.count()
    )
    print(json.dumps({
        "experiment": "salted_agg_hub_suppliers",
        "plain_sec": t_plain,
        "salted_sec": t_salted,
        "equal_results": eq,
    }))


def exp_aqe() -> None:
    res = {}
    for skew_on in (True, False):
        spark = _fresh_spark(
            f"skew-aqe-{skew_on}",
            {
                "spark.sql.adaptive.enabled": "true",
                "spark.sql.adaptive.skewJoin.enabled": str(skew_on).lower(),
                # force the shuffle join AQE skew handling targets
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                # local-mode thresholds so the toy partitions register as
                # skewed the same way a 100 TB hub partition would
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
                "spark.sql.adaptive.coalescePartitions.enabled": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        # carry realistic row width through the shuffle — column pruning
        # down to the bare join key compresses the hub partition below any
        # sane skew threshold at toy scale
        li = spark.read.parquet(f"{ZIPF_DIR}/lineitem.parquet").select(
            "l_suppkey", "l_orderkey", "l_extendedprice", "l_quantity",
            "l_discount", "l_tax", "l_shipdate",
        )
        sup = spark.read.parquet(f"{ZIPF_DIR}/supplier.parquet")
        j = (
            li.join(sup.hint("merge"), li.l_suppkey == sup.s_suppkey)
            .groupBy("s_name")
            .agg(F.count("*").alias("cnt"),
                 F.sum("l_extendedprice").alias("rev"))
        )
        j.collect()  # warm; ALSO finalizes THIS DataFrame's adaptive plan
        t0 = time.perf_counter()
        j.collect()
        t = round(time.perf_counter() - t0, 3)
        # read the plan off the same QueryExecution collect() executed —
        # count() builds a separate one whose plan never finalizes
        plan = j._jdf.queryExecution().executedPlan().toString()
        res["skew_on" if skew_on else "skew_off"] = t
        if skew_on:
            res["skew_marker_in_plan"] = (
                "skew=true" in plan or "AQEShuffleRead skewed" in plan
            )
        spark.stop()
    print(json.dumps({"experiment": "aqe_skew_join", **res}))


def exp_linkpred() -> None:
    import harvard_artifacts_collection_data_engineering_analytics_app_spark.operators.graph as G
    from pyspark.sql import Window

    spark = _fresh_spark("skew-linkpred")
    spark.sparkContext.setLogLevel("ERROR")
    q = G.gr_linkpred_adamic_adar
    cap = G.AA_NEIGHBOR_CAP
    try:
        q(spark, ZIPF_DIR).count()  # warm
        t_capped = _timed(q(spark, ZIPF_DIR))
        G.AA_NEIGHBOR_CAP = 1_000_000  # effectively uncapped
        q(spark, ZIPF_DIR).count()
        t_uncapped = _timed(q(spark, ZIPF_DIR))
    finally:
        G.AA_NEIGHBOR_CAP = cap
    # wedge CANDIDATE counts — the quantity the cap actually bounds
    # (wall time at this graph size is fixed overhead either way); the
    # probe reads the operator's own co-service graph build
    sym = G._symmetric(G._coservice_pairs(spark, ZIPF_DIR))
    max_deg = sym.groupBy("x").count().agg(F.max("count")).first()[0]

    def wedges(rel):
        return (
            rel.alias("a")
            .join(rel.alias("b"),
                  (F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y")))
            .count()
        )

    nb = F.row_number().over(
        Window.partitionBy("x").orderBy(F.desc("w"), F.asc("y"))
    )
    capped_rel = (
        sym.withColumn("r", nb).filter(F.col("r") <= cap).select("x", "y")
    )
    print(json.dumps({
        "experiment": "linkpred_neighbor_cap",
        "capped_sec": t_capped,
        "uncapped_sec": t_uncapped,
        "max_degree": int(max_deg),
        "cap": cap,
        "wedge_candidates_uncapped": wedges(sym.select("x", "y")),
        "wedge_candidates_capped": wedges(capped_rel),
    }))


def exp_hotkey() -> None:
    """Round-7 sk_hot_key_split_join on the 177x hub-skewed suppkey:
    plain sort-merge join vs the two-path hot-key isolation, result
    equality checked. The hot path must carry the hubs via broadcast so
    no reducer ever sees a hub's full row set."""
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators.skew import (
        HOT_KEY_TOPN,
    )

    spark = _fresh_spark("skew-hotkey")
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{ZIPF_DIR}/lineitem.parquet").select(
        "l_suppkey", "l_quantity"
    )
    sup = spark.read.parquet(f"{ZIPF_DIR}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )

    def agg(joined):
        return joined.groupBy("s_name").agg(
            F.count("*").alias("cnt"),
            (F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")) / 100.0)
            .alias("sum_qty"),
        )

    plain = agg(
        li.join(sup.hint("merge"), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    hot_keys = [
        r["l_suppkey"]
        for r in li.groupBy("l_suppkey")
        .agg(F.count("*").alias("kcnt"))
        .orderBy(F.desc("kcnt"), F.asc("l_suppkey"))
        .limit(HOT_KEY_TOPN)
        .collect()
    ]
    split = agg(
        li.filter(F.col("l_suppkey").isin(hot_keys))
        .join(
            F.broadcast(sup.filter(F.col("s_suppkey").isin(hot_keys))),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .unionByName(
            li.filter(~F.col("l_suppkey").isin(hot_keys)).join(
                sup.filter(~F.col("s_suppkey").isin(hot_keys)).hint("merge"),
                F.col("l_suppkey") == F.col("s_suppkey"),
            )
        )
    )
    plain.count(); split.count()  # warm
    t_plain = min(_timed(plain), _timed(plain))
    t_split = min(_timed(split), _timed(split))
    eq = (
        plain.alias("p").join(split.alias("s"), "s_name")
        .filter(
            (F.col("p.cnt") != F.col("s.cnt"))
            | (F.abs(F.col("p.sum_qty") - F.col("s.sum_qty")) > 1e-6)
        ).count() == 0
        and plain.count() == split.count()
    )
    print(json.dumps({
        "experiment": "hotkey_split_join_hub_suppliers",
        "plain_sec": t_plain,
        "split_sec": t_split,
        "speedup": round(t_plain / t_split, 2),
        "hot_keys": len(hot_keys),
        "equal_results": eq,
    }))


EXPERIMENTS = {
    "jaccard": exp_jaccard,
    "salted": exp_salted,
    "aqe": exp_aqe,
    "linkpred": exp_linkpred,
    "hotkey": exp_hotkey,
}


if __name__ == "__main__":
    if not os.path.isdir(ZIPF_DIR):
        # self-contained: synthesize the skewed variant on first run
        import make_scaled_data

        make_scaled_data.make_zipf(ZIPF_DIR)
    which = sys.argv[1:] or list(EXPERIMENTS)
    for name in which:
        EXPERIMENTS[name]()
