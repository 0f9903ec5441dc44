"""Capture physical plans of the engine's key queries into PLANS.md —
the at-scale evidence the plans are the ones a 100 TB cluster wants:
pushed filters, pruned scans, broadcast joins, partial aggregation,
whole-stage codegen, and exactly one shuffle in the extraction path.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def head(plan: str, n: int = 40) -> str:
    lines = [ln.rstrip() for ln in plan.splitlines()]
    # keep the tree; drop the verbose per-node detail section
    cut = next((i for i, ln in enumerate(lines) if ln.startswith("(1) ")),
               len(lines))
    tree = [ln for ln in lines[:cut] if ln.strip()]
    return "\n".join(tree[:n])


def count_exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange", plan))


def main() -> None:
    import __spark_entry__ as entry
    from pdf_parser_spark.session import get_spark
    from pdf_parser_spark.jobs.extract import extract_documents
    from pyspark.sql import functions as F

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    def add(title, df, notes):
        plan = plan_of(df)
        sections.append(
            f"## {title}\n\n{notes}\n(exchanges in plan: "
            f"{count_exchanges(plan)})\n\n```\n{head(plan)}\n```\n"
        )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    add(
        "Flagship extraction (pages → documents)",
        extract_documents(entry._html_pages(docs)),
        "Default path (size-tiered): two pruned scans split by payload "
        "length, one url-hash Exchange per tier, and a narrow Union "
        "feeding ONE fused Python stage (extract+clean+chunk) — "
        "map-only after the skew-defusing shuffles; nothing else "
        "materializes.",
    )

    add(
        "Column-pruned scan + pushed filter",
        docs.where(F.col("lang") == "en").select("doc_id", "n_chars"),
        "PushedFilters and a 2-column ReadSchema must appear in the "
        "parquet scan node — Catalyst prunes and pushes without help.",
    )

    add(
        "minhash LSH candidates",
        __import__("pdf_parser_spark.operators.dedup",
                   fromlist=["dedup"]).minhash_lsh_candidates(docs),
        "Signature is map-side; ONE Exchange on 16-byte band keys into "
        "a groupBy (partial_count first), pair fan-out native, then "
        "distinct. Full texts never shuffle.",
    )

    ivf_index = __import__(
        "pdf_parser_spark.operators.similarity", fromlist=["similarity"]
    ).ivf_build(
        spark.read.parquet(f"{SF}/embeddings.parquet"), lloyd_iters=0
    )
    add(
        "IVF search over a prebuilt index",
        __import__(
            "pdf_parser_spark.operators.similarity", fromlist=["similarity"]
        ).ivf_search(ivf_index, [1.0] * 64, k=10),
        "The assignment table is built ONCE (ivf_build, persisted "
        "InMemoryTableScan here; a written cell-partitioned table at "
        "100 TB) — search is a probe-cell filter + map-only scoring + "
        "TakeOrderedAndProject, no join, no shuffle, no rebuild.",
    )

    add(
        "SemDeDup (semantic dedup within embedding clusters)",
        __import__(
            "pdf_parser_spark.operators.similarity", fromlist=["similarity"]
        ).semdedup(
            spark.read.parquet(f"{SF}/embeddings.parquet"), threshold=0.3
        ),
        "The quadratic work is confined WITHIN a cell: vectors cross "
        "one Exchange on the cell key into the self-join; the "
        "dominated-id list is id-only and DISTINCT before the marker "
        "join back onto the persisted assignment. n_centroids bounds "
        "cell size (pick ~n/target_cell_size at scale), so the pair "
        "count never goes corpus-quadratic.",
    )

    from pdf_parser_spark.operators import dsir as _dsir

    add(
        "DSIR importance weights (hashed n-gram bucket models)",
        _dsir.dsir_weights(docs, docs.where(F.col("lang") == "en"),
                           n_buckets=512),
        "ONE tokenize/explode pass over the raw corpus (per-doc "
        "bucket counts persisted; q re-aggregates the cache, not the "
        "corpus) + one pass over the small target; p and q are <= B "
        "rows each and ride BroadcastExchanges into the weight join; "
        "the per-doc sum is a partial-combine groupBy on doc_id. "
        "Texts never shuffle — only (doc_id, bucket, cnt) bigints.",
    )

    from pdf_parser_spark.operators import lm as _lm

    add(
        "CCNet LM perplexity (hashed bigram bucket model)",
        _lm.lm_perplexity(docs, docs.where(F.col("lang") == "en"),
                          n_buckets=512),
        "One tokenize/explode pass over the raw corpus into "
        "(doc_id, pair, cnt) bigints — a bigram is ONE bigint "
        "prev*B+cur, so nothing but integers shuffles. The model "
        "(bigram + context counts over the small target) rides "
        "BroadcastExchanges into the scoring join; the per-doc "
        "log-likelihood sum is a partial-combine groupBy on doc_id. "
        "B sizes the broadcast budget; past it the join degrades "
        "gracefully to a bigint-key shuffle.",
    )

    from pdf_parser_spark.jobs.compact import plan_file_count

    add(
        "Small-file compaction rewrite (jobs/compact.py)",
        docs.repartition(
            plan_file_count(64 * 1024 * 1024, 256)
        ).sortWithinPartitions("lang"),
        "ONE key-less round-robin Exchange to the computed file count "
        "(perfectly even output files, no hash skew) + an in-partition "
        "sort so downstream scans get row-group min/max pruning on the "
        "sort key. Nothing in the plan depends on total row count — at "
        "100 TB only the partition count grows.",
    )

    add(
        "Broadcast dim join + top-k",
        entry._q_top_customers(spark, SF),
        "Small dim broadcast (BroadcastHashJoin, no shuffle of the "
        "fact side beyond the aggregation), TakeOrderedAndProject "
        "instead of a global sort.",
    )

    add(
        "Windowed top-3 per group (X6 analog)",
        entry._q_topk_display(spark, SF),
        "Single hash-partition Exchange on the group key feeding the "
        "window; filter on row_number keeps the rest pipelined.",
    )

    add(
        "Cosine top-k (brute force)",
        entry._q_cosine_topk(spark, SF),
        "Map-only scoring (higher-order aggregate over the vector, "
        "JVM codegen) + TakeOrderedAndProject — per-partition heaps, "
        "no global sort, no vector shuffle.",
    )

    from pdf_parser_spark.operators.packing import pack_blocks
    from pdf_parser_spark.operators.sampling import (
        hash_sample, stratified_sample,
    )

    add(
        "Deterministic hash sample",
        hash_sample(docs, 0.25).select("doc_id", "lang"),
        "Map-only: the md5-threshold filter rides the scan (no "
        "Exchange anywhere), column pruning reaches the parquet "
        "ReadSchema. Reproducible at any cluster size.",
    )

    add(
        "Stratified sample (exact per-key top-n, no full-stratum sort)",
        stratified_sample(docs, 25, key_col="lang"),
        "ONE parquet scan: per-key counts are collected driver-side "
        "(bounded, like the lineage agg) and come back as a local "
        "relation, so the threshold join is a BroadcastHashJoin with "
        "no second table scan; survivors persist; ONE hash Exchange "
        "feeds the window over ~oversample*n rows per key (plus "
        "WindowGroupLimit pre-pruning) — the full-stratum sort a "
        "plain window would run never happens, and the deficient-key "
        "fallback branch only exists in the plan when a key actually "
        "undershot.",
    )

    add(
        "Sequence packing (block bins per hash-group)",
        pack_blocks(docs, capacity=256, n_groups=16),
        "ONE Exchange on the group key + n_groups parallel cumsum "
        "windows — the global-order single-task window is the "
        "anti-pattern this shape avoids. Only (id, n_tokens) ever "
        "shuffles; texts stay in the scan.",
    )

    from pdf_parser_spark.operators.sampling import (
        hash_sample as _hs, shuffle_assignment,
    )
    from pdf_parser_spark.operators.spans import (
        benchmark_ngram_hashes, contamination, dup_spans,
    )

    add(
        "Duplicated spans (Lee et al. exact-substring dedup, Spark-shaped)",
        dup_spans(docs, n=8),
        "The honest heavyweight: positional n-gram hashes explode "
        "map-side (one md5 per shingle), the global occurrence count "
        "and the join-back shuffle ONLY (doc_id, pos, hash8) triples "
        "— texts never move — and the per-doc merge window partitions "
        "by doc_id (unskewed by construction). Hot boilerplate "
        "n-grams skew the bigint join keys; AQE skew-join splits "
        "those. Partial aggregation (HashAggregate x2) halves the "
        "count shuffle.",
    )

    add(
        "Benchmark decontamination (contaminated-doc n-gram hits)",
        contamination(docs, benchmark_ngram_hashes(_hs(docs, 0.05,
                                                       salt="bench"), n=8)),
        "The eval-set hashes ride a BroadcastExchange into a "
        "map-side BroadcastHashJoin over the exploded corpus "
        "n-grams; the only hash Exchange carries the HIT rows "
        "(doc_id, h) — clean documents never leave their scan task. "
        "At crawl scale hits are a vanishing fraction of the corpus.",
    )

    from pdf_parser_spark.operators.spans import strip_dup_spans

    add(
        "Span-dedup transform (duplicated spans cut out of the text)",
        strip_dup_spans(docs, n=8),
        "The per-doc span list collapses to ONE bounded array "
        "(collect_list after the merge windows), joins back on "
        "doc_id, and the word cut is a native nested filter/exists "
        "higher-order expression — no Python anywhere; texts cross "
        "exactly one join.",
    )

    from pdf_parser_spark.operators.sampling import mix_corpus

    add(
        "Data mixing (source-weighted downsample)",
        mix_corpus(docs, {"en": 0.5, "de": 0.2, "es": 0.15, "fr": 0.1,
                          "zh": 0.05}, key_col="lang"),
        "Per-stratum counts are collected ONCE driver-side (bounded, "
        "same pattern as stratified_sample) and return as integer "
        "thresholds in a broadcast local relation, so the mix is a "
        "map-side BroadcastHashJoin + hash filter over ONE scan of "
        "the corpus — kept rows never shuffle, and the row set is a "
        "pure function of (ids, weights, salt) at any cluster size.",
    )

    add(
        "URL canonicalization + registered domain",
        entry._q_url_canonicalize(spark, SF),
        "Pure native column expressions (regexps + array lambdas) in "
        "one map-only Project — no Exchange, no Python; at 10^12 rows "
        "this is a free pass fused into whatever scan precedes it.",
    )

    add(
        "Per-domain corpus stats",
        entry._q_domain_stats(spark, SF),
        "Two-phase distinct aggregation: partial agg on (domain, lang) "
        "before the first Exchange (map-side combine eats the per-domain "
        "row mass), then the final agg on domain; count/sum piggyback on "
        "the same passes. Domains are the natural pre-aggregated key "
        "for blocklists and quotas.",
    )

    add(
        "Per-document TF-IDF top-k (corpus statistics tier)",
        entry._q_tfidf_topk(spark, SF),
        "Zipf-skew defusal in the plan: document frequency is a "
        "partial-combine groupBy, the max_df band filter runs BEFORE "
        "the tf-df join (stop words never cross it), and the per-doc "
        "top-k window carries WindowGroupLimit pre-pruning. All "
        "native; only (doc_id, term) pairs shuffle.",
    )

    add(
        "CDX latest-capture per surt",
        entry._q_cdx_latest(spark, SF),
        "The index-side dedup a re-fetch job runs before touching any "
        "payload: native line parse (split + from_json, codegen) then "
        "row_number = 1 per surt — WindowGroupLimit pre-prunes each "
        "map partition to its per-surt best before the Exchange, so "
        "only ~one row per key crosses the shuffle.",
    )

    add(
        "Outlink extraction (link-graph tier)",
        entry._q_extract_links(spark, SF),
        "ONE map-only MapInPandas over the pages scan — the HTML "
        "parse + RFC-3986 resolution is per-page Python (the honest "
        "slow path, same shape as text extraction); page bytes never "
        "shuffle, only the emitted (src, dst, anchor) strings flow on.",
    )

    add(
        "PageRank (3 rounds, dangling-mass redistribution)",
        entry._q_pagerank(spark, SF),
        "Pregel-on-DataFrames: per round ONE join shuffle on src + "
        "ONE groupBy shuffle on dst over the persisted edge table, "
        "plus two 1-row aggregates broadcast back in-plan (no driver "
        "collect). localCheckpoint keeps lineage flat, so the plan "
        "below shows only the LAST round — by design. At real scale "
        "the edge table is bucketed by src once and every round "
        "reuses the layout.",
    )

    # bucketed-edge variant: pay the src shuffle once at write time,
    # then every round's contrib join + out-degree agg read the bucket
    # layout from the catalog (no Exchange on the edge side).
    from pdf_parser_spark.jobs.bucketize import write_bucketed
    from pdf_parser_spark.operators import graph

    spark.sql("DROP TABLE IF EXISTS plans_bkt_edges")
    write_bucketed(
        entry._q_link_edges(spark, SF), "plans_bkt_edges",
        key="src", buckets=8,
    )
    e_b = spark.table("plans_bkt_edges")
    nodes_b = (
        e_b.select(F.col("src").alias("id"))
        .union(e_b.select(F.col("dst").alias("id")))
        .distinct()
    )
    n1_b = nodes_b.agg(F.count("*").cast("double").alias("n"))
    deg_b = e_b.groupBy("src").agg(F.count("*").cast("double").alias("od"))
    ranks_b = nodes_b.crossJoin(F.broadcast(n1_b)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("rank")
    ).localCheckpoint()
    add(
        "PageRank round over a src-BUCKETED edge table",
        graph.pagerank_round(e_b, deg_b, nodes_b, n1_b, ranks_b),
        "jobs/bucketize.py composition (pagerank_bucketed): the edge "
        "table is written bucketed by src ONCE, so each round's "
        "contrib join and the out-degree aggregate run with NO "
        "Exchange on the edge side — the scan says `Bucketed: true` "
        "and the only src hashpartitioning left is the small "
        "(id, rank) frame joining INTO the edges "
        "(tests/test_graph_bucketed.py asserts exactly this, "
        "hashpartitioning(src) == 1). The exchange count at right is "
        "inflated by this SNIPPET rebuilding nodes/deg/ranks inline "
        "and uncached (the operator persists them): every exchange "
        "in it keys on id/dst, none on the edge side's src. At "
        "10^12 edges this removes the dominant per-round shuffle.",
    )
    spark.sql("DROP TABLE plans_bkt_edges")

    add(
        "Per-target anchor-text top-k",
        entry._q_anchor_topk(spark, SF),
        "groupBy count then window top-k as row_number <= k — Spark "
        "plans WindowGroupLimit (per-partition pre-prune before the "
        "Exchange), so the anchor long tail is cut map-side.",
    )

    add(
        "BM25 top-k retrieval",
        entry._q_bm25_topk(spark, SF),
        "Query-term filter runs map-side inside the explode (non-"
        "matching terms never shuffle); df and the global (N, avgdl) "
        "scalars are broadcast back in-plan; the final cut is "
        "TakeOrderedAndProject (per-partition heap), not a global sort.",
    )

    add(
        "Token-budget sample (final boundary window)",
        entry._q_token_budget_sample(spark, SF),
        "Exact 'N tokens' prefix by hash-draw order WITHOUT a global "
        "sort: the kept set is one contiguous draw range (map-side "
        "filter; the per-range histogram aggregates that located it "
        "are driver-resolved and not in this final plan) plus ONE "
        "window over the boundary range only — n/4096^levels rows in "
        "a single task at any corpus size.",
    )

    add(
        "Gopher-complete quality gate",
        entry._q_gopher_gate(spark, SF),
        "The full Rae et al. 2021 document ruleset as ONE native "
        "struct projection — no UDF, no shuffle, whole-stage codegen "
        "over the scan; at 100 TB this is a pure map with nothing to "
        "tune.",
    )

    add(
        "BM25 over the materialized inverted index",
        entry._q_bm25_indexed(spark, SF),
        "Query serving after jobs/term_index.py paid the tokenize "
        "once: the postings scan carries the pushed `term IN` filter "
        "(term-clustered files prune at row-group min/max), df "
        "aggregates over <= |query| terms and broadcasts with the "
        "1-row stats, and the cut is a TakeOrderedAndProject heap — "
        "no corpus scan, no tokenize, no global sort.",
    )

    add(
        "GPT-3 quality-classifier scoring pass",
        entry._q_quality_classifier(spark, SF),
        "The corpus-scale pass of the classifier (training already "
        "resolved to a <=513-row broadcast weight table by bounded "
        "per-step collects): one tokenize/explode over the raw "
        "corpus, a BroadcastHashJoin against the weights, and a "
        "partial-combine groupBy on doc_id — texts never shuffle; "
        "only narrow (doc_id, bucket) pairs cross the two "
        "aggregation Exchanges (presence agg, per-doc score agg).",
    )

    add(
        "BPE encode with a shipped merge list",
        entry._q_bpe_tokens(spark, SF),
        "Tokenization as ONE chained-replace codegen projection over "
        "the scan — no UDF, no merge-table join, no shuffle; encoding "
        "100 TB is a pure map whatever the merge-list length.",
    )

    add(
        "Sessionization (gap windows)",
        entry._q_sessionize(spark, SF),
        "One user-key window pass (lag -> flag -> running sum) and "
        "one (user, session) aggregate that REUSES the window's "
        "user-hash partitioning (user is a prefix of the grouping "
        "key), so the whole operator pays ONE Exchange of narrow "
        "(user, micros, value) triples — texts/props never shuffle.",
    )

    add(
        "As-of join (union + last_value window)",
        entry._q_asof_last_view(spark, SF),
        "Point-in-time attach with NO range join: both sides tagged "
        "and unioned, one key-shuffle window carries the latest "
        "right payload forward (IGNORE NULLS), left rows filter out "
        "— each row visited once, skew bounded by the per-key window "
        "like any sessionization.",
    )

    add(
        "Window funnel (ordered-sequence match)",
        entry._q_window_funnel(spark, SF),
        "The per-step running-max DP: ONE user-key Exchange + ONE "
        "sort, then k stacked Window passes reusing that order (plan "
        "shows 1 Exchange / 1 Sort / stacked Windows) — no self-joins, "
        "no per-user quadratic sequence scan; per-event state is one "
        "bigint per funnel step.",
    )

    add(
        "Cohort retention matrix",
        entry._q_retention(spark, SF),
        "First-event aggregate + distinct (user, period) activity — "
        "narrow bigint pairs — one user join, then a per-(cohort, "
        "offset) aggregate bounded by periods^2 rows with the "
        "cohort-size side broadcast; event props never shuffle.",
    )

    add(
        "Count-min sketch build + probe",
        entry._q_cms_counts(spark, SF),
        "The cell fan-out explodes depth structs per token but the "
        "groupBy is capped at depth*width distinct keys, so map-side "
        "partial aggregation collapses each task to <= depth*width "
        "rows before the Exchange — a constant-size shuffle at any "
        "corpus size; the bounded sketch then BROADCASTS under the "
        "literal term-cell probe frame.",
    )

    add(
        "Reciprocal-rank fusion (hybrid retrieval)",
        entry._q_rrf_hybrid(spark, SF),
        "The two rankers prune map-side (BM25's query-term filter in "
        "the explode; cosine's TakeOrderedAndProject); the fusion "
        "stage unions two <= 20-row cuts — its window/aggregate work "
        "is bounded by sum(k_i) whatever the corpus size.",
    )

    add(
        "A-ES weighted sample",
        entry._q_weighted_sample(spark, SF),
        "Map-only scoring (md5 draw + ln/w, all codegen) and a "
        "TakeOrderedAndProject cut: per-partition partial top-n, "
        "driver merge — no shuffle, no global sort at any corpus "
        "size.",
    )

    add(
        "Product-quantization ADC search",
        entry._q_pq_topk(spark, SF),
        "Build: one md5-ordered seed scan + a map-only encode (the "
        "m_sub*ksub HOF folds are the engine-portable-centroid cost, "
        "as in ann_lsh). Search never touches vectors: the query's "
        "distance table is literal arrays, scoring is m_sub "
        "element_at lookups + adds per 8-byte code row — pure "
        "codegen, no join, TakeOrderedAndProject cut.",
    )

    add(
        "IVF+PQ composed ANN",
        entry._q_ivfpq_topk(spark, SF),
        "The probe-cell isin filter prunes the persisted (id, cell, "
        "codes) index before any ADC work — at scale the index is "
        "written partitioned by cell, so the filter becomes partition "
        "pruning and a query reads nprobe/n_centroids of the files.",
    )

    add(
        "Concat-and-chunk packing (distributed prefix-sum)",
        entry._q_pack_concat(spark, SF),
        "Global token offsets WITHOUT a single global-ORDER-BY task: "
        "bucket totals aggregate to <= n_buckets rows (map-side "
        "combine), driver cumsum broadcasts bucket bases, and the "
        "per-bucket window adds the local cumsum — the in-task sort "
        "is n/n_buckets narrow rows. The segment explode is bounded "
        "by n_docs + n_blocks.",
    )

    add(
        "Histogram sketch + quantile walk",
        entry._q_len_quantiles(spark, SF),
        "The bin groupBy is capped at n_bins+2 distinct keys, so "
        "map-side combine collapses every task to a constant-size "
        "partial before the Exchange (same argument as the count-min "
        "build); the cumulative-walk interpolation then runs over a "
        "<= n_bins+2-row frame — the single-partition Window there "
        "is deliberate and bounded.",
    )

    add(
        "Training-shuffle assignment",
        shuffle_assignment(docs, 16),
        "Map-only: part and sort key are pure md5 functions of "
        "doc_id (no Exchange; reproducible at any cluster size); the "
        "writer pays ONE hash repartition + per-task external sort.",
    )

    add(
        "Exact heavy hitters (Misra-Gries candidates + verify)",
        entry._q_heavy_hitters(spark, SF),
        "The candidate pass is ONE mapInPandas carrying k counters of "
        "state per partition; the exact verify groupBy's key space is "
        "the broadcast-semi-joined candidate set, so its Exchange is "
        "bounded by partitions*k rows, never |vocabulary| — the Zipf "
        "tail dies map-side. Threshold compare joins the 1-row total "
        "broadcast in-plan.",
    )

    add(
        "Banded interval join (click attribution)",
        entry._q_click_attribution(spark, SF),
        "The range predicate never becomes a per-key cartesian: "
        "trunc(ts/W) bucket keys make it an EQUI-join (one narrow "
        "shuffle per side, left rows fanned x2 map-side), and the "
        "exact window filter runs post-join inside the same stage — "
        "each join task sees a 2W time slice of any key at any "
        "corpus size.",
    )

    add(
        "Winnowing fingerprint selection",
        entry._q_winnow_fp(spark, SF),
        "MAP-ONLY: gram hashing and the per-window rightmost-min fold "
        "are one native projection (no UDF, no Exchange before the "
        "fingerprints themselves) — the sampled overlap tier ships "
        "~2/(w+1) of the positional tier's row volume into any "
        "downstream shuffle.",
    )

    add(
        "HITS hubs & authorities",
        entry._q_hits(spark, SF),
        "Per round: two key-shuffle joins (edges x scores on src, "
        "then on dst) + two bounded aggregates whose 1-row L1 norms "
        "broadcast in-plan; edges persisted across rounds. As with "
        "PageRank, localCheckpoint flattens lineage each round, so "
        "the visible plan is the final checkpointed frame — by "
        "design (the per-round shape is pagerank_round's, audited "
        "above, with the same bucketed-edge composition available).",
    )

    add(
        "Spider-trap pattern statistics",
        entry._q_url_traps(spark, SF),
        "Pattern features (host, digit-folded path template, sorted "
        "param names) are map-only regexp; the only Exchange is the "
        "partial-combine groupBy on the pattern key. Content "
        "fingerprints ride an existing column — texts never read.",
    )

    add(
        "sitemap.xml parse -> frontier candidates",
        entry._q_sitemap_urls(spark, SF),
        "Split-per-entry + regexp fields + entity unescape: one "
        "generate/projection chain — the PARSER itself is map-only; "
        "the Exchange in this plan is the oracle FIXTURE's distinct "
        "over synthesized host ids, not the parse. Discovery sweeps "
        "parse per (host x sitemap) file map-side and only the typed "
        "candidate rows move.",
    )

    add(
        "Native media header telemetry",
        entry._q_media_metadata(spark, SF),
        "Format sniff + dimension/sample-rate extraction as ONE "
        "codegen projection over the binary column (hex-slice + conv "
        "— no UDF, no decode, no shuffle): the 100 TB media-table "
        "audit is a map-only scan.",
    )

    add(
        "Image average-hash over real decode",
        entry._q_ahash_images(spark, SF),
        "Arrow-batched mapInPandas per codec family (true BMP decode "
        "+ real baseline-JPEG encode→decode since round 5) unioned "
        "into one integer block-sum hash pass — payload bytes never "
        "shuffle; the one Exchange moves ONLY 8-byte doc_ids (the "
        "deliberate repartition that spreads the single-file input's "
        "per-row codec work across slots), and only (id, 64-char "
        "hash) rows leave the executors; near-dup pairing then rides "
        "the banded-hamming machinery on narrow keys.",
    )

    add(
        "Charset sniff + decode (page-bytes front door)",
        entry._q_html_decode(spark, SF),
        "100% codegen map-only projection over hex(payload): BOM "
        "prefix compares, ONE generated meta-prescan regex over the "
        "first 2048 hex chars, one anchored utf-8-validity regex, "
        "native decode/translate. Staged so each heavy sub-expression "
        "evaluates once per row (a fused tree overflowed the 64 KB "
        "JVM method limit); zero shuffles — rides the extraction scan.",
    )

    add(
        "Trigram substring search (indexed serve path)",
        entry._q_trigram_search(spark, SF),
        "gram IN (...) candidate scan (pushes into a gram-clustered "
        "postings parquet at deploy layout — plan-asserted in "
        "tests/test_search.py), count-match AND-intersection on "
        "partial-combined narrow keys, contains() verify touches "
        "candidate texts only via one semi-join. Result provably "
        "equals the naive full scan; hot grams add rows, not hot "
        "reducer keys.",
    )

    add(
        "All-pairs tf-idf cosine (Bayardo prefix filter)",
        entry._q_allpairs_cosine(spark, SF),
        "Unit postings built once and persisted; prefix selection is "
        "ONE window over (doc, term) narrow triples; candidates = "
        "prefix⋈full postings (tails below the threshold's L2 mass "
        "never join); exact verify aggregates w·w per candidate pair "
        "with map-side combine. Exact result — equal to the naive "
        "threshold self-join the twin runs — at a fraction of its "
        "pair volume.",
    )

    add(
        "Domain-level weighted PageRank (eTLD+1 rollup)",
        entry._q_domain_rank(spark, SF),
        "domain_edges: map-only eTLD+1 fold + ONE partial-combine "
        "groupBy to (src, dst, w) — page-level multiplicity combines "
        "before the wire; then the persisted-edge weighted PageRank "
        "loop (2 shuffles/round, dangling mass via in-plan 1-row "
        "broadcast). The domain graph is ~3 orders smaller than the "
        "page graph, so the loop runs on the rolled-up relation.",
    )

    add(
        "Temperature-balanced multilingual mix",
        entry._q_temperature_mix(spark, SF),
        "One pruned per-language counts pass (bounded driver "
        "collect), thresholds from the normalization-free rate form "
        "(no order-dependent float sum — bit-replayable by the twin), "
        "then a broadcast join + integer hash-threshold filter: kept "
        "rows never shuffle, stable at any cluster size.",
    )

    add(
        "Content-defined chunking (gear CDC)",
        entry._q_cdc_chunks(spark, SF),
        "The whole chunker is ONE native array fold per row (per-char "
        "gear values resolved once, windowed integer sum, bounds as "
        "an array filter) — no explode, no window, no shuffle, no "
        "UDF; only narrow (doc, idx, start, len, md5) chunk rows "
        "leave the projection. Composes with the snapshot diff for "
        "chunk-level delta dedup of re-crawled pages.",
    )

    add(
        "Edit-distance verify over LSH candidates",
        entry._q_edit_verify(spark, SF),
        "Texts move ONLY for candidate pairs (two broadcast-ready "
        "joins against the capped LSH candidate set); native "
        "levenshtein — the 3-arg banded form bounds per-pair cost "
        "when a distance cap is supplied.",
    )

    body = (
        "# PLANS — physical-plan evidence for the scale design\n\n"
        "Captured by tools/explain_plans.py at sf0.01 (plans are "
        "data-size independent; AQE may further coalesce at runtime).\n\n"
        + "\n".join(sections)
    )
    with open("PLANS.md", "w") as f:
        f.write(body)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
