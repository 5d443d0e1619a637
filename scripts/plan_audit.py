"""Physical-plan audit: assert the plan properties the engine's scale
story depends on, and dump the interesting plans for review.

Checks (hard asserts — run in CI/tests):
1. changelog slice read: both LSN predicates reach the parquet scan
   (PushedFilters) and the scan schema is pruned to requested columns;
2. store merge: the winners (`storage.lww_winners`, the helper merge
   calls) come from a HashAggregate with no SortAggregate, the winners
   join is broadcast, and no full-width exchange appears between scan
   and join — only the narrow winner agg and the final per-bucket
   repartition shuffle wide rows;
3. TPC-H-shape q5: dimension joins are broadcast-hash;
4. q1: partial aggregation (map-side combine) before the exchange.

Usage: python scripts/plan_audit.py [--dump]
"""
from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_spark.session import get_spark  # noqa: E402
from nifi_spark.fixtures import gen_changelog_spark  # noqa: E402
from nifi_spark.storage import (  # noqa: E402
    KEY, SnapshotTableStore, bucket_expr, lww_winners)
from pyspark.sql import functions as F  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def executed_plan_of(df) -> str:
    """Plan AFTER execution — shows AQE's final choices (broadcast vs
    shuffle join, coalesced partitions)."""
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def main():
    dump = "--dump" in sys.argv
    spark = get_spark("plan-audit", parallelism=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="plan_audit_")
    results = []

    # ---- 1. slice read pushdown + column pruning -----------------------
    lp = os.path.join(work, "log")
    gen_changelog_spark(spark, 100_000).write.parquet(lp)
    sl = (spark.read.parquet(lp)
          .filter((F.col("lsn") > 1000) & (F.col("lsn") <= 50_000))
          .select("repo", "path", "lsn", "op"))
    p = plan_of(sl)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(lsn,1000\)", p), p
    assert "LessThanOrEqual(lsn,50000)" in p, p
    assert re.search(r"ReadSchema: struct<lsn:bigint,op:string,repo:string,path:string>", p), p
    results.append(("slice read", "LSN predicates pushed to parquet scan; "
                    "schema pruned to 4 of 12 columns"))
    if dump:
        print(p)

    # ---- 1b. multi-column watermark slice: every conjunct pushed -------
    import datetime as _dt

    from nifi_spark.sources import ChangelogSource
    msrc = ChangelogSource(spark, lp, lsn_col="lsn")
    p = plan_of(msrc.read_slice_multi(
        [("lsn", 1000), ("ts", _dt.datetime(2020, 1, 1))])
        .select("lsn", "op"))
    assert re.search(r"PushedFilters: \[.*GreaterThan\(lsn,1000\)", p), p
    assert "GreaterThanOrEqual(ts," in p, p
    results.append(("multi-watermark slice", "first column strict >, later "
                    "columns >= (getQuery semantics) — all conjuncts in "
                    "PushedFilters"))

    # ---- 2. merge: broadcast winners join, no wide pre-join exchange ---
    store = SnapshotTableStore(os.path.join(work, "tbl"), n_buckets=8)
    store.init()
    names = [c for c, _ in store.schema_columns()]
    chg = (spark.read.parquet(lp)
           .filter(F.col("op") != "schema_change")
           .select(*names,
                   F.when(F.col("op") == "delete", "delete")
                    .otherwise("upsert").alias("op"), "lsn")
           .withColumn("bucket", bucket_expr(8)))
    chg = chg.withColumn("_src", F.lit(1))
    winners = lww_winners(chg)
    merged = (chg.join(winners, [*KEY, "lsn", "_src"])
              .withColumnRenamed("lsn", "_last_lsn").drop("op", "_src"))
    p = executed_plan_of(merged)
    assert "BroadcastHashJoin" in p, p
    # the packed-long winner key is fixed-width: max hashes, no sort
    assert "HashAggregate" in p, p
    assert "SortAggregate" not in p, p
    # full-width side must stream from scan to join (the only exchanges
    # belong to the narrow winners agg + its broadcast); the (lsn,_src)
    # winner key makes the join 1:1, so there is NO post-join wide dedup
    # exchange — the only full-width shuffle left in a real merge is the
    # final per-bucket repartition before write.
    assert "AdaptiveSparkPlan" in p
    assert "Window" not in p, p
    n_ex = len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", p))
    assert n_ex <= 1, f"expected <=1 hash exchange (narrow agg), got {n_ex}\n{p}"
    results.append(("merge argmax join", "BroadcastHashJoin; winners by "
                    "HashAggregate (no SortAggregate); "
                    "full-width rows stream scan->join with no exchange; "
                    "only the narrow (repo,path,lsn,_src,op) agg shuffles; "
                    "1:1 winner join (no post-join dedup exchange)"))
    if dump:
        print(p)

    # ---- 2b. distribute_load / control_rate: no global-window sort -----
    from nifi_spark.operators import control_rate, distribute_load
    dl = distribute_load(spark.read.parquet(lp), {"a": 4, "b": 1},
                         order_col="lsn")
    p = plan_of(dl)
    assert "Window" not in p and "Exchange" not in p and "Sort" not in p, p
    results.append(("distribute_load", "stateless hash-slot projection: "
                    "zero exchanges, no window/sort"))
    cr = control_rate(spark.read.parquet(lp), "lsn", rows_per_batch=10_000)
    p = plan_of(cr)
    assert "Window" not in p and "Sort" not in p, p
    # the only aggregation is the one-row min() (its SinglePartition
    # exchange moves ONE row); the data path itself is a pure projection
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    results.append(("control_rate", "arithmetic batch ids: one-row min agg "
                    "broadcast back; no global window sort"))

    # ---- 2b2. partitioned-window operators: no single-reducer sorts ----
    from nifi_spark.operators import bin_assign, enforce_order
    from nifi_spark.operators.attributes import global_sequence
    ba = bin_assign(spark.read.parquet(lp), "lsn", "content",
                    max_bytes=1 << 20, correlation_col="repo")
    p = plan_of(ba)
    assert "SinglePartition" not in p, p
    eo = enforce_order(spark.read.parquet(lp), "repo", "lsn")["in_order"]
    p = plan_of(eo)
    assert "SinglePartition" not in p, p
    gs, _ = global_sequence(spark.read.parquet(lp), "lsn")
    p = plan_of(gs)
    # the range partitioning is pinned behind a localCheckpoint (the
    # sampled boundaries must not be re-drawn between the counts job and
    # the final evaluation), so the visible plan starts at the
    # checkpointed RDD; the numbering window must still be partitioned
    # by the range-partition id — never a single reducer.
    assert "ExistingRDD" in p and "SinglePartition" not in p, p
    assert "windowspecdefinition(_pid" in p, p
    results.append(("windowed ops", "bin_assign / enforce_order /"
                    " global_sequence: all windows partitioned (by "
                    "correlation key / group / range-partition id) — no "
                    "single-reducer sort anywhere"))

    # ---- 2b3. codec/format projections: zero exchanges -----------------
    from nifi_spark.operators import (encode_content, identify_mime_type,
                                      modify_bytes)
    src = spark.read.parquet(lp).select(
        "repo", F.encode("content", "utf-8").alias("payload"))
    for name, op in [
            ("identify_mime_type", lambda d: identify_mime_type(d, "payload")),
            ("modify_bytes", lambda d: modify_bytes(d, "payload", 4, 4)),
            ("encode_content", lambda d: encode_content(d, "payload"))]:
        p = plan_of(op(src))
        assert "Exchange" not in p and "Window" not in p, (name, p)
    results.append(("codec projections", "identify_mime_type / "
                    "modify_bytes / encode_content: single narrow "
                    "projection, zero exchanges"))

    # ---- 2c. replace_text_with_mapping: zero exchanges -----------------
    from nifi_spark.operators import replace_text_with_mapping
    mapping = spark.createDataFrame([("table", "TBL"), ("merge", "MRG")],
                                    "find string, replace string")
    rm = replace_text_with_mapping(
        spark.read.parquet(lp).select("repo", "content"), "content", mapping)
    p = plan_of(rm)
    assert "Exchange" not in p and "Window" not in p, p
    results.append(("replace_with_mapping", "broadcast map literal + "
                    "transform(): single narrow projection, zero exchanges"))

    # ---- 2d. quality_classify: single narrow projection ----------------
    from nifi_spark.datalib import quality_classify
    qc = quality_classify(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string"))
    p = plan_of(qc)
    assert "Exchange" not in p and "Window" not in p, p
    results.append(("quality_classify", "perplexity-proxy features fold "
                    "per-row: zero exchanges, no groupBy"))
    from nifi_spark.datalib import gopher_rules
    gr = gopher_rules(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string"))
    p = plan_of(gr)
    assert "Exchange" not in p and "Window" not in p, p
    results.append(("gopher_rules", "all seven rules are integer "
                    "cross-multiplied per-row folds: zero exchanges"))

    # ---- 2e. embedding near-dup: bucket join, never a cross product ----
    from nifi_spark.datalib import embedding_near_dup_pairs
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<double>")
    p = plan_of(embedding_near_dup_pairs(emb, "vec_id", "embedding", dim=8))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or "BroadcastHashJoin" in p, p
    results.append(("embedding_near_dup", "banded-LSH candidate generation "
                    "is an equi-join on (band, value) — no cross product "
                    "anywhere in the plan"))

    # ---- 2e2. dedup verify/discovery stages: scale-true shapes ---------
    from nifi_spark.datalib import minhash_lsh_pairs, ngram_jaccard_pairs
    docs_dd = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(20)],
        "doc_id long, text string")
    cand_dd = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    p = plan_of(ngram_jaccard_pairs(docs_dd, "doc_id", "text",
                                    candidates=cand_dd))
    assert "array_intersect" in p, p
    assert "hashpartitioning(shingle" not in p, p
    results.append(("ngram_jaccard verify", "candidates= joins pairs "
                    "straight to per-doc shingle sets (one array_intersect "
                    "per pair) — NO shingle self-join/exchange in the plan"))
    tree = plan_of(minhash_lsh_pairs(docs_dd, "doc_id", "text",
                                     max_bucket=10)).split("\n\n", 1)[0]
    assert "LeftSemi" in tree and "ObjectHashAggregate" in tree, tree
    # tree prints parents above children: the collect_list agg must be
    # the PARENT of the semi-join (filter first, aggregate survivors)
    assert tree.index("ObjectHashAggregate") < tree.index("LeftSemi"), tree
    results.append(("minhash_lsh guard", "two-phase viral-bucket guard: "
                    "per-bucket count + LeftSemi BELOW the collect_list "
                    "agg — oversized buckets never build an id list"))

    # ---- 2e3. exact-substring dedup: narrow shuffles, doc-keyed window -
    from nifi_spark.datalib import exact_substring_spans
    p = plan_of(exact_substring_spans(docs_dd, "doc_id", "text", k=3))
    # the rolling-hash lead() pass is the ONLY Window, and it is
    # partitioned by the doc id (bounded partitions — never global):
    # every windowspecdefinition's first argument must be the id
    specs = re.findall(r"windowspecdefinition\(([^,]*)", p)
    assert specs and all(s.startswith("doc_id") for s in specs), specs
    assert "Window" in p, p
    assert "LeftSemi" in p, p               # only duplicated windows join
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    # the exploded window rows that shuffle carry only (id, pos, hash) —
    # the document text must never reach an exchange
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "text" not in ex, ex
    results.append(("exact_substring_spans", "window-hash rows are narrow "
                    "(id, pos, hash) at every exchange; the rolling-hash "
                    "lead() Window is doc-id-partitioned; duplicated "
                    "windows via LeftSemi; span merge is a "
                    "sorted-positions aggregate fold"))

    # ---- 2f. curation: broadcast decontam join; split is exchange-free -
    from nifi_spark.datalib import (benchmark_contamination, dataset_split)
    docs_small = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(30)],
        "doc_id long, text string")
    bench_small = docs_small.limit(3)
    p = plan_of(benchmark_contamination(docs_small, bench_small,
                                        "doc_id", "text", k=3))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p
    results.append(("benchmark_contamination", "benchmark shingle set is "
                    "broadcast — the corpus side joins map-side, the only "
                    "shuffle is the per-doc count partial agg"))
    p = plan_of(dataset_split(docs_small, "doc_id"))
    assert "Exchange" not in p and "Window" not in p, p
    results.append(("dataset_split", "hash-bucket assignment is a pure "
                    "projection: zero exchanges, deterministic"))

    # ---- 2g. paragraph dedup / url dedup / token-budget sampler --------
    from nifi_spark.datalib import (paragraph_dedup, token_budget_sample,
                                    url_dedup)
    p = plan_of(paragraph_dedup(docs_small, "doc_id", "text"))
    assert "Window" not in p and "CartesianProduct" not in p, p
    results.append(("paragraph_dedup", "global winner is a hash-agg on the "
                    "paragraph text + equi-join back — no windows, no "
                    "cross product"))
    urls_small = docs_small.selectExpr(
        "doc_id", "concat('http://h/', doc_id % 5) AS url")
    p = plan_of(url_dedup(urls_small, "doc_id", "url"))
    assert "Window" not in p, p
    n_ex = p.count("Exchange hashpartitioning")
    assert n_ex <= 1, f"expected one canonical-key exchange, got {n_ex}\n{p}"
    results.append(("url_dedup", "canonicalization is a pure projection; "
                    "one map-side-combinable hash-agg exchange"))
    tok_small = docs_small.selectExpr("doc_id", "'s' AS source",
                                      "10 + doc_id % 5 AS n")
    p = plan_of(token_budget_sample(tok_small, "source", "doc_id", "n",
                                    {"s": 100}))
    # Operator ids are assigned bottom-up (children < parents). The ONE
    # exact running-sum Window (ordered by the row hash _h) must sit
    # ABOVE a Filter that consumes the bucket-cumsum Window's output
    # (_we0, the boundary-bucket classification) — i.e. only the
    # boundary slice of each group ever enters the exact window.
    row_wins = [int(i) for i, arg in
                re.findall(r"\((\d+)\) Window\nInput[^\n]*\n"
                           r"Arguments: ([^\n]*)", p) if "_h#" in arg]
    bkt_wins = [int(i) for i, arg in
                re.findall(r"\((\d+)\) Window\nInput[^\n]*\n"
                           r"Arguments: ([^\n]*)", p) if "_bkt#" in arg]
    cls_filters = [int(i) for i, cond in
                   re.findall(r"\((\d+)\) Filter\nInput[^\n]*\n"
                              r"Condition : ([^\n]*)", p)
                   if "_we0" in cond and "CASE WHEN" in cond]
    assert len(row_wins) == 1, p
    assert any(max(bkt_wins) <= f < row_wins[0] for f in cls_filters), \
        (row_wins, bkt_wins, cls_filters, p)
    results.append(("token_budget_sample", "exact running sum windows ONLY "
                    "the boundary hash-bucket slice (bucket-class Filter "
                    "below the row Window); whole buckets inside the budget "
                    "pass through window-free"))

    # ---- 2h. scrub_pii / stratified_sample: pure projections -----------
    from nifi_spark.datalib import scrub_pii, stratified_sample
    p = plan_of(scrub_pii(docs_small, "text"))
    assert "Exchange" not in p and "Window" not in p, p
    p = plan_of(stratified_sample(
        docs_small.selectExpr("doc_id", "'s' AS source"),
        "source", "doc_id", {"s": 0.5}))
    assert "Exchange" not in p and "Window" not in p, p
    results.append(("scrub_pii / stratified_sample", "regex chain and "
                    "hash-threshold filter are zero-exchange projections"))

    # ---- 2h2. dsir_weights: broadcast bucket join, no window/cartesian --
    from nifi_spark.datalib.curation import dsir_weights
    p = plan_of(dsir_weights(docs_small, docs_small.limit(5),
                             "doc_id", "text", n_buckets=64))
    assert "BroadcastHashJoin" in p, p       # bucket stats join map-side
    assert "Window" not in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    results.append(("dsir_weights", "bucket-stats table joins broadcast "
                    "(<= n_buckets rows by construction); no windows, no "
                    "cross products — corpus shuffles only as (id, weight) "
                    "partial aggs"))

    # ---- 2i. media decode / flowfile pack: shuffle discipline -----------
    from nifi_spark.datalib.multimodal import (decode_media_stats,
                                               synthesize_media)
    media = synthesize_media(docs_small.selectExpr("doc_id AS id"), "id")
    p = plan_of(decode_media_stats(media))
    assert "Exchange" not in p and "Window" not in p, p
    from nifi_spark.operators import package_flowfiles
    src = docs_small.selectExpr("doc_id", "CAST(doc_id % 7 AS STRING) AS g",
                                "encode(text, 'utf-8') AS content",
                                "CAST(doc_id AS STRING) AS did")
    p = plan_of(package_flowfiles(src, "content", ["did"], version=3,
                                  group_cols=["g"]))
    # exactly the one group-keyed shuffle (count plan NODES, not text)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    results.append(("media decode / flowfile pack", "codec passes are "
                    "zero-exchange maps; the merged-stream pack is exactly "
                    "one group-keyed exchange (the MergeContent bin shape)"))

    # ---- 2j. SequenceFile pack/unpack: same shuffle discipline ----------
    from nifi_spark.operators.seqfile import (create_hadoop_sequence_file,
                                              get_hdfs_sequence_file)
    sf_src = docs_small.selectExpr("CAST(doc_id % 5 AS STRING) AS grp",
                                   "CAST(doc_id AS STRING) AS filename",
                                   "text AS content")
    packed = create_hadoop_sequence_file(sf_src, group_col="grp",
                                         compression="block")
    p = plan_of(packed)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    p = plan_of(get_hdfs_sequence_file(packed, keep_cols=["grp"]))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p  # pack's only
    results.append(("seqfile pack/unpack", "SequenceFile pack is exactly "
                    "one group-keyed exchange; the record explode adds "
                    "NO exchange (linear mapInPandas over the blobs)"))

    # ---- geo enrich: broadcast equi range-join, no nested loop ---------
    import __spark_entry__ as E
    sf = "/root/testdata/sf0.01"

    p = plan_of(E.queries()["bpe_encode_tokens"](spark, sf))
    assert "Exchange" not in p, p
    results.append(("bpe_encode", "tokenization pass is ONE zero-exchange "
                    "projection (nested replaces + split + flatten)"))
    p = plan_of(E.queries()["unigram_encode_tokens"](spark, sf))
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert n_bnlj <= 1, p   # only the 1-row seed-total crossJoin
    results.append(("unigram_encode", "Viterbi once per DISTINCT word "
                    "(hash-agg word cache) + equi-join back + ordered "
                    "regroup — no windows, no cross products; the single "
                    "nested-loop is the 1-row vocab-total broadcast"))
    p = plan_of(E.queries()["sketch_bloom_bits"](spark, sf))
    assert "Window" not in p, p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex <= 1, p
    results.append(("bloom_bits", "filter build is one explode + ONE "
                    "bit_or hash-agg exchange — partial aggregation IS "
                    "the Bloom union"))
    p = plan_of(E.queries()["relevance_bm25_topk"](spark, sf))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    results.append(("bm25 topk", "seed query terms broadcast; df/dl joins "
                    "distributed equi-joins; per-query window only for the "
                    "top-k cut"))
    p = plan_of(E.queries()["ip_geo_enrich"](spark, sf))
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    results.append(("ip_geo_enrich", "CIDR dim flattened+bucketed -> "
                    "BroadcastHashJoin on the prefix bucket (no nested-"
                    "loop range join); fact side map-only"))
    if dump:
        print(p)

    # warc: the split itself is mapInPandas over the synthesized archives;
    # assert no shuffle between synthesis and split (one linear pipe)
    p = plan_of(E.queries()["warc_split_records"](spark, sf))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex <= 1, p   # only the fixture's repartition(8)
    results.append(("warc_split", "archive split is a linear mapInPandas "
                    "pipe — no shuffle between synthesis and parse"))

    # kmeans assignment: centroids are literals — no join, no cartesian
    from nifi_spark.datalib.cluster import kmeans_int8
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").limit(200)
    assigned, _ = kmeans_int8(emb, "vec_id", "embedding", k=4, iters=1)
    p = plan_of(assigned)
    assert "Join" not in p and "CartesianProduct" not in p, p
    results.append(("kmeans assign", "centroid distances are inline "
                    "literal folds: zero joins, fact side map-only"))

    # PQ: encode = zero-exchange projections; ADC = broadcast table join
    from nifi_spark.datalib.pq import pq_adc_topk, pq_encode
    from nifi_spark.datalib.similarity import quantize_int8
    cbs = [[[((17 * j + 5 * t + 3 * m) % 51) - 25 for t in range(16)]
            for j in range(16)] for m in range(4)]
    qv = quantize_int8(emb, "vec_id", "embedding").select("vec_id",
                                                          "qvec")
    p = plan_of(pq_encode(qv, cbs))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex == 0 and "Join" not in p, f"{n_ex} exchanges\n{p}"
    codes = pq_encode(qv, cbs)
    qrows = [(3, [1] * 64)]
    p = executed_plan_of(pq_adc_topk(codes, qrows, cbs, topk=5))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p \
        and "BroadcastNestedLoopJoin" not in p, p
    results.append(("pq ann", "encode is 3 zero-exchange codegen "
                    "projections (no join); ADC scoring joins the "
                    "broadcast M*K distance table on (m, code) — "
                    "never a cross product"))

    # temperature_mix: no windows; membership via broadcast stats join
    from nifi_spark.datalib.curation import temperature_mix
    docs_tm = spark.createDataFrame(
        [(i, f"s{i % 5}") for i in range(200)],
        "doc_id long, source string")
    p = executed_plan_of(temperature_mix(docs_tm, "source", "doc_id",
                                         target_total=50,
                                         temperature=4))
    assert "Window" not in p and "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert n_bnlj <= 1, f"{n_bnlj} nested-loop joins\n{p}"
    results.append(("temperature_mix", "per-source budgets from one "
                    "count agg + 1-row total broadcast; membership is "
                    "a broadcast stats equi-join + hash-cutoff "
                    "projection — no windows"))

    # ---- 3. q5: broadcast dimension joins ------------------------------
    p = executed_plan_of(E.queries()["q5_nation_revenue"](spark, sf))
    n_bhj = p.count("BroadcastHashJoin")
    assert n_bhj >= 4, f"expected >=4 broadcast joins, got {n_bhj}\n{p}"
    results.append(("q5 star join", f"{n_bhj} BroadcastHashJoin (region/"
                    "nation/customer/supplier dims broadcast; no shuffle "
                    "of lineitem for dim joins)"))
    if dump:
        print(p)

    # ---- 3d. semantic dedup: in-cluster pruning is an equi-join --------
    from nifi_spark.datalib import semantic_dedup
    vecs_small = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, 2.0]) for i in range(40)],
        "vec_id long, embedding array<float>")
    kept, _ = semantic_dedup(vecs_small, "vec_id", "embedding", k=2,
                             threshold_num=9, threshold_den=10, iters=1)
    p = plan_of(kept)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    results.append(("semantic_dedup", "in-cluster pair pruning is an "
                    "equi-join on the cluster id — never an all-pairs "
                    "product; drop set joins back LeftAnti"))

    # ---- 3e. ngram LM: no windows; per-order lookup equi-joins ---------
    from nifi_spark.datalib import score_ngram_lm, train_ngram_counts
    docs_lm = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(10)],
        "doc_id long, text string")
    cnts = train_ngram_counts(docs_lm, "text", n=3)
    p = plan_of(cnts)
    assert "Window" not in p and "partial" in p.lower() \
        or p.count("HashAggregate") >= 2, p
    p = plan_of(score_ngram_lm(docs_lm, cnts, "doc_id", "text", n=3))
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p
    # exactly ONE nested-loop NODE is allowed: the broadcast of the
    # 1-row total-token-count scalar (constant-size build side) —
    # count node headers, not substrings (tree + detail both print it)
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert n_bnlj <= 1, f"{n_bnlj} nested-loop joins\n{p}"
    results.append(("ngram_lm", "count training = hash-aggs with map-side "
                    "partials; scoring contexts come from array slices "
                    "(no Window), lookups are per-order equi-joins; the "
                    "only nested-loop is the 1-row total-count broadcast"))

    # ---- 3f. incremental dedup: index collapsed per key, equi-joins ----
    from nifi_spark.datalib import build_dedup_index, dedup_incremental
    docs_inc = spark.createDataFrame(
        [(i, f"w{i} common tail words here {i % 3}") for i in range(30)],
        "doc_id long, text string")
    idx_inc = build_dedup_index(docs_inc, "doc_id", "text")
    p = plan_of(dedup_incremental(docs_inc, idx_inc, "doc_id", "text"))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "Window" not in p, p
    results.append(("dedup_incremental", "batch-vs-index lookups are "
                    "equi-joins on (kind, key) with the index collapsed "
                    "to min(doc_id) per key BEFORE the join — viral "
                    "buckets are one row; no windows, no products"))

    # ---- 4. q1: partial agg before exchange ----------------------------
    p = plan_of(E.queries()["q1_pricing_summary"](spark, sf))
    first_agg = p.find("HashAggregate")
    first_ex = p.find("Exchange")
    assert first_agg != -1 and first_ex != -1
    assert "partial" in p.lower() or p.count("HashAggregate") >= 2, p
    results.append(("q1 agg", "two-phase HashAggregate (map-side partial "
                    "combine before the exchange)"))
    if dump:
        print(p)

    print("\nPLAN AUDIT PASS")
    for name, msg in results:
        print(f"  [{name}] {msg}")


if __name__ == "__main__":
    main()
