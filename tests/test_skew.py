"""North-rule skew defusal: url-hash repartitioning must spread
a pathologically skewed crawl (one host's giant documents arriving
consecutively) evenly across partitions; LSH bucket caps must drop
degenerate (boilerplate-identical) buckets instead of fanning out
quadratically; clustering must converge past any fixed round count."""

from pyspark.sql import functions as F

from pdf_parser_spark.jobs.extract import (
    DEFAULT_HEAVY_BYTES, extract_one, size_tiered_repartition,
)
from pdf_parser_spark.operators import dedup
from pdf_parser_spark.operators import similarity as sim


def _partition_byte_sums(df):
    return [
        r.total
        for r in df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.sum(F.length("html")).alias("total"))
        .collect()
    ]


def test_salting_spreads_clustered_giants(spark):
    # 990 small docs + 10 giant docs from one host, clustered in url
    # order (the crawl-locality worst case)
    rows = [(f"https://small.example/{i:05d}", b"x" * 200)
            for i in range(990)]
    rows += [(f"https://giant.example/{i:02d}", b"y" * 400_000)
             for i in range(10)]
    pages = spark.createDataFrame(rows, "url string, html binary")

    n_parts = 8
    # range partitioning by url (what naive ingest order gives) puts
    # the giants together
    naive = pages.repartitionByRange(n_parts, "url")
    naive_sums = _partition_byte_sums(naive)
    # every payload is below heavy_bytes: the heavy tier stays empty and
    # this is the plain url-hash repartition over n_parts
    salted = size_tiered_repartition(pages, n_parts)
    salted_sums = _partition_byte_sums(salted)

    total = sum(salted_sums)
    assert total == sum(naive_sums)
    # naive: one partition carries nearly all bytes
    assert max(naive_sums) > 0.5 * total
    # salted: the heaviest partition carries a bounded share
    assert max(salted_sums) < 0.35 * total
    assert len(salted_sums) == n_parts


def _task_walls(df):
    """Per-task wall seconds for the REAL extraction work (extract_one
    over every payload in the partition), one row per task. No-op tasks
    (the mostly-empty heavy tier) are excluded: an empty task is a
    ~ms launch, not a straggler, and counting its ~0 wall in the median
    would only flatter the ratio."""
    import time

    import pandas as pd

    def timed(batches):
        t0 = time.time()
        n = 0
        for b in batches:
            for payload in b["html"]:
                extract_one(payload)
                n += 1
        yield pd.DataFrame([{"n": n, "wall": time.time() - t0}])

    rows = df.mapInPandas(timed, "n long, wall double").collect()
    return sorted(r.wall for r in rows if r.n > 0)


def _html_doc(i: int, n_bytes: int) -> bytes:
    para = ("<p>the quick brown fox jumps over the lazy dog near the "
            "riverbank while autumn leaves drift slowly downstream</p>\n")
    body = para * max(1, n_bytes // len(para))
    return ("<html><head><title>doc %d</title></head><body>"
            "<div id='nav'><a href='/a'>nav</a></div>%s</body></html>"
            % (i, body)).encode()


def test_size_tiering_bounds_straggler_wall(spark):
    """VERDICT r2 #1 done-criterion: heavy-tail corpus (one doc 100x
    the median bytes) must show max-task/median-task wall <= 2x under
    size-tiered repartitioning, while url-salting alone (count balance
    only) leaves a worse straggler — the giant rides one url-hash
    partition ON TOP of that partition's full light share."""
    import statistics

    small, giant_sz = 20_000, 2_000_000  # giant = 100x median bytes
    rows = [(f"https://site{i % 37}.example/p/{i:05d}", _html_doc(i, small))
            for i in range(520)]
    rows.append(("https://giant.example/the-big-one",
                 _html_doc(99999, giant_sz)))
    pages = spark.createDataFrame(rows, "url string, html binary")
    n_parts = 8

    # url-hash only: the giant is below the default heavy_bytes, so it
    # rides a light partition with that partition's full light share
    assert max(len(html) for _, html in rows) < DEFAULT_HEAVY_BYTES
    salted = size_tiered_repartition(pages, n_parts)
    tiered = size_tiered_repartition(pages, n_parts,
                                     heavy_bytes=1_000_000)

    # wall-clock assertion — ambient/suite CPU contention can distort a
    # single sample, so accept the first of two attempts that passes
    for attempt in range(2):
        salted_walls = _task_walls(salted)
        tiered_walls = _task_walls(tiered)
        salted_ratio = salted_walls[-1] / statistics.median(salted_walls)
        tiered_ratio = tiered_walls[-1] / statistics.median(tiered_walls)
        if tiered_ratio <= 2.0 and salted_ratio > tiered_ratio:
            break

    assert tiered_ratio <= 2.0, (salted_walls, tiered_walls)
    assert salted_ratio > tiered_ratio, (salted_walls, tiered_walls)


def test_size_tiering_preserves_rows(spark):
    rows = [(f"https://s.example/{i}", b"x" * (10 + i)) for i in range(50)]
    rows += [(f"https://g.example/{i}", b"y" * 5000) for i in range(3)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    tiered = size_tiered_repartition(pages, 4, heavy_bytes=1000)
    assert tiered.count() == 53
    # byte totals unchanged — no row duplicated or dropped by the split
    tot = tiered.agg(F.sum(F.length("html"))).first()[0]
    assert tot == sum(len(h) for _, h in rows)


def test_lsh_bucket_cap_drops_degenerate_band(spark):
    # 30 boilerplate-identical docs: every band key collides -> one
    # degenerate bucket that would fan out 30*29/2 pairs per band
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(i, base) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.minhash_lsh_candidates(df)  # default cap 1000
    assert uncapped.count() == 30 * 29 // 2
    capped = dedup.minhash_lsh_candidates(df, max_bucket=10)
    assert capped.count() == 0
    # the drop is observable, not silent
    dropped = dedup.lsh_dropped_buckets(df, max_bucket=10).collect()
    assert len(dropped) == dedup.N_BANDS  # all 4 bands degenerate
    assert all(r.n == 30 for r in dropped)


def test_embedding_bucket_cap(spark):
    rows = [(i, [1.0, 0.5, 0.25, 0.125]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = sim.embedding_neardup_pairs(df, threshold=0.9, dim=4)
    assert uncapped.count() == 20 * 19 // 2
    capped = sim.embedding_neardup_pairs(df, threshold=0.9, dim=4,
                                         max_bucket=10)
    assert capped.count() == 0


def test_cluster_rejects_nonpositive_max_iter(spark):
    import pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iter"):
        dedup.dedup_clusters(pairs, max_iter=0)


def test_cluster_warns_when_iteration_capped(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    # pointer jumping halves chains per round; 1 round cannot finish a
    # 13-node path — the safety bound must WARN, not silently truncate
    with pytest.warns(UserWarning, match="still changing"):
        dedup.dedup_clusters(pairs, max_iter=1).collect()


def test_cluster_chain_past_fixed_rounds(spark):
    # path-shaped component 0-1-2-...-19: diameter 19 exceeds the old
    # fixed 6-round schedule; convergence + pointer jumping must still
    # collapse it to ONE cluster labeled by the min id
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id_a long, id_b long"
    )
    out = dedup.dedup_clusters(pairs).collect()
    assert len(out) == 20
    assert {r.cluster_id for r in out} == {0}


def test_keep_canonical_filters_to_cluster_keepers(spark):
    # components {0,1,2} (path) and {10,11}; 5,6,7 unpaired
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (0, 1, 2, 5, 6, 7, 10, 11)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in
                  dedup.keep_canonical(docs, pairs).collect())
    # keepers 0 and 10 survive, other members drop, unpaired all stay
    assert kept == [0, 5, 6, 7, 10]
