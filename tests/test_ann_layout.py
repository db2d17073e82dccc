"""The ANN storage layout end-to-end: ann_assign writes a corpus
partitioned by IVF cell; probe queries read ONLY their probed cells
(partition pruning asserted in the plan) and return the same neighbors
the brute-force scan finds in the probed cells."""

from __future__ import annotations

from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
    ann_assign,
    write_ann_layout,
)
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.testdata import load_table

CENTS = [1, 5, 9, 13]


def test_ann_layout_partition_pruned_probe(spark, sf_small, tmp_path):
    vecs = load_table(spark, sf_small, "embeddings")
    catalog = Catalog(spark, str(tmp_path / "wh"))
    assign = ann_assign(vecs, dim=64, planes=4, centroid_ids=CENTS)
    layout = vecs.join(assign, "vec_id")
    write_ann_layout(catalog, layout, "ann_corpus", k=max(CENTS) + 1)

    probe_cells = [CENTS[0], CENTS[1]]
    probed = catalog.read("ann_corpus").filter(
        F.col("centroid_id").isin(probe_cells))

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters")[1][:200]

    # correctness: probed read == full corpus filtered to those cells
    expected = {r.vec_id for r in layout.filter(
        F.col("centroid_id").isin(probe_cells)).select("vec_id").collect()}
    got = {r.vec_id for r in probed.select("vec_id").collect()}
    assert got == expected and got

    # the layout covers the whole corpus exactly once
    assert catalog.read("ann_corpus").count() == vecs.count()


def test_ann_probe_reads_fewer_files(spark, sf_small, tmp_path):
    vecs = load_table(spark, sf_small, "embeddings")
    catalog = Catalog(spark, str(tmp_path / "wh"))
    assign = ann_assign(vecs, dim=64, planes=4, centroid_ids=CENTS)
    write_ann_layout(catalog, vecs.join(assign, "vec_id"), "ann_corpus",
                     k=max(CENTS) + 1)
    probed = catalog.read("ann_corpus").filter(F.col("centroid_id") == CENTS[0])
    full = catalog.read("ann_corpus")

    def n_files(df):
        return df.select(F.input_file_name()).distinct().count()

    assert n_files(probed) < n_files(full)


def test_ivf_probe_exact_within_cells_and_recall(spark, sf_small, tmp_path):
    """Full trained-IVF flow: train_kmeans -> kmeans_assign -> partitioned
    layout -> ivf_probe. The probe must (a) read only the probed
    partitions, (b) be EXACT within them, and (c) clear a measured
    recall floor vs the full brute-force scan."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        brute_force_topk, ivf_probe, kmeans_assign, probe_cells_for,
        train_kmeans)

    vecs = load_table(spark, sf_small, "embeddings")
    cents = train_kmeans(vecs, k=8, iters=4)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    layout = vecs.join(kmeans_assign(vecs, cents), "vec_id")
    write_ann_layout(catalog, layout, "ann_corpus", k=8)
    corpus = catalog.read("ann_corpus")

    qrows = [(r.vec_id, [float(x) for x in r.embedding])
             for r in vecs.orderBy("vec_id").limit(10).collect()]
    got = ivf_probe(corpus, qrows, cents, nprobe=3, top_k=5)

    # (a) partition pruning on the probed cells
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # (b) exact within the probed cells: brute force over the same cells
    cell_map = probe_cells_for(qrows, cents, nprobe=3)
    got_rows = {(r.query_id, r.neighbor_id, r.rank) for r in got.collect()}
    for qid, _ in qrows:
        # probed cells minus the query row, plus EXACTLY ONE query row
        # (so brute_force_topk can extract the query vector without the
        # row ever being double-counted as its own neighbor source)
        sub = (corpus.filter(F.col("centroid_id").isin(cell_map[qid]))
               .filter(F.col("vec_id") != qid)
               .unionByName(layout.filter(F.col("vec_id") == qid)))
        bf = brute_force_topk(sub, query_ids=[qid], top_k=5)
        want = {(r.query_id, r.neighbor_id, r.rank) for r in bf.collect()
                if r.query_id == qid}
        have = {t for t in got_rows if t[0] == qid}
        assert have == want, qid

    # (c) recall@5 vs the full scan — deterministic setup, measured floor
    full = brute_force_topk(vecs, query_ids=[q for q, _ in qrows], top_k=5)
    truth = {}
    for r in full.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for q, n, _ in got_rows:
        approx.setdefault(q, set()).add(n)
    recall = sum(len(truth[q] & approx.get(q, set())) for q in truth) / (5 * len(truth))
    assert recall >= 0.5, recall


def test_grouped_layout_probe_identical_and_pruned(spark, sf_small, tmp_path):
    """The bounded-directory grouped layout (r8): writing the corpus
    partitioned by cell_group (contiguous cell ranges) instead of the
    raw cell id bounds directory count at G for any k, and
    ivf_probe(group_col=) returns IDENTICAL neighbors — the directory
    filter moves to the covering groups, the cell predicate drops to
    parquet row-group stats, and both pruning levels show in the plan."""
    import os

    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        cell_group_col, cell_group_span, ivf_probe, kmeans_assign,
        train_kmeans)

    vecs = load_table(spark, sf_small, "embeddings")
    cents = train_kmeans(vecs, k=8, iters=4)
    G = 3  # span = ceil(8/3) = 3: cells 0-2 / 3-5 / 6-7
    catalog = Catalog(spark, str(tmp_path / "wh"))
    layout = vecs.join(kmeans_assign(vecs, cents), "vec_id")
    write_ann_layout(catalog, layout, "ann_flat", k=8)
    write_ann_layout(catalog, layout, "ann_grouped", k=8,
                     partition_groups=G)

    # directory count bounded at G; per-cell layout has one per cell
    def dirs(table, prefix):
        return [d for d in os.listdir(catalog.path(table))
                if d.startswith(prefix)]
    assert len(dirs("ann_grouped", "cell_group=")) <= G
    assert len(dirs("ann_flat", "centroid_id=")) > G

    qrows = [(r.vec_id, [float(x) for x in r.embedding])
             for r in vecs.orderBy("vec_id").limit(8).collect()]
    flat = ivf_probe(catalog.read("ann_flat"), qrows, cents,
                     nprobe=3, top_k=5)
    gp = ivf_probe(catalog.read("ann_grouped"), qrows, cents,
                   nprobe=3, top_k=5, group_col="cell_group", groups=G)
    assert (sorted(map(tuple, gp.collect()))
            == sorted(map(tuple, flat.collect())))

    # both pruning levels in the grouped plan: PartitionFilters on the
    # group column, the cell predicate pushed to the parquet scan
    plan = gp._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:300]
    assert "cell_group" in pf
    assert "PushedFilters" in plan and "centroid_id" in plan.split(
        "PushedFilters")[1][:300]

    # the span helper is the one source of truth writers/probes share
    assert cell_group_span(8, 3) == 3


def test_write_read_ann_layout_pins_geometry(spark, sf_small, tmp_path):
    """Batch twin of the stream's sidecar handling (r8 ADVICE):
    write_ann_layout records (k, G) alongside the data, read_ann_layout
    derives the true geometry from the table, a G-mismatched rewrite
    raises the targeted error, and the probe through the derived
    geometry equals the per-cell probe."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        ivf_probe,
        kmeans_assign,
        read_ann_layout,
        train_kmeans,
        write_ann_layout,
    )
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    vecs = load_table(spark, sf_small, "embeddings")
    cents = train_kmeans(vecs, k=8, iters=4)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    layout = vecs.join(kmeans_assign(vecs, cents), "vec_id")
    write_ann_layout(catalog, layout, "ann_g", k=8, partition_groups=3)
    frame, k, groups = read_ann_layout(catalog, "ann_g")
    assert (k, groups) == (8, 3) and "cell_group" in frame.columns

    qrows = [(r.vec_id, [float(x) for x in r.embedding])
             for r in vecs.orderBy("vec_id").limit(5).collect()]
    write_ann_layout(catalog, layout, "ann_flat", k=8)
    f2, k2, g2 = read_ann_layout(catalog, "ann_flat")
    assert (k2, g2) == (8, None)
    got = ivf_probe(frame, qrows, cents, nprobe=3, top_k=5,
                    group_col="cell_group", groups=groups)
    flat = ivf_probe(f2, qrows, cents, nprobe=3, top_k=5)
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, flat.collect())))

    # geometry drift on APPEND fails loudly BEFORE any data is touched
    with pytest.raises(ValueError, match="do not match"):
        write_ann_layout(catalog, layout, "ann_g", k=8,
                         partition_groups=5, append=True)
    # an OVERWRITE is a full rebuild: the new geometry is authoritative
    # and the sidecar re-records to match (r10, r9 ADVICE — previously
    # the only way to re-layout was dropping the sidecar by hand)
    write_ann_layout(catalog, layout, "ann_g", k=8, partition_groups=5)
    _, k3, g3 = read_ann_layout(catalog, "ann_g")
    assert (k3, g3) == (8, 5)
    # unpinned tables are a targeted error on read (deliberately bare
    # write: this IS the legacy-table path under test)
    with pytest.raises(ValueError, match="no 'ann_old_layout' sidecar"):
        catalog.overwrite(layout, "ann_old",
                          partition_by=["centroid_id"])
        read_ann_layout(catalog, "ann_old")
    # a sidecar without data (failed first write) is the targeted
    # incomplete-layout error, not a generic missing-table read
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        check_or_record_ann_layout)
    check_or_record_ann_layout(catalog, spark, "ann_ghost", k=8,
                               partition_groups=None)
    with pytest.raises(ValueError, match="incomplete layout"):
        read_ann_layout(catalog, "ann_ghost")


def test_probe_catalog_table_overload(spark, sf_small, tmp_path):
    """r10 (r9 verdict task 4): ivf_probe((catalog, table), ...) opens
    the layout through its sidecar — geometry comes from the pin, not
    the caller, and any conflicting caller config raises instead of
    silently pruning the wrong directories."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        ivf_probe,
        kmeans_assign,
        train_kmeans,
    )

    vecs = load_table(spark, sf_small, "embeddings")
    cents = train_kmeans(vecs, k=8, iters=4)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    layout = vecs.join(kmeans_assign(vecs, cents), "vec_id")
    write_ann_layout(catalog, layout, "ann_g", k=8, partition_groups=3)
    write_ann_layout(catalog, layout, "ann_flat", k=8)

    qrows = [(r.vec_id, [float(x) for x in r.embedding])
             for r in vecs.orderBy("vec_id").limit(5).collect()]
    # grouped table: geometry (G=3, cell_group) derived from the pin
    via_pin = ivf_probe((catalog, "ann_g"), qrows, cents,
                        nprobe=3, top_k=5)
    explicit = ivf_probe(catalog.read("ann_g"), qrows, cents, nprobe=3,
                         top_k=5, group_col="cell_group", groups=3)
    assert (sorted(map(tuple, via_pin.collect()))
            == sorted(map(tuple, explicit.collect())))
    # per-cell table through the pin
    flat_pin = ivf_probe((catalog, "ann_flat"), qrows, cents,
                         nprobe=3, top_k=5)
    flat = ivf_probe(catalog.read("ann_flat"), qrows, cents,
                     nprobe=3, top_k=5)
    assert (sorted(map(tuple, flat_pin.collect()))
            == sorted(map(tuple, flat.collect())))

    # conflicting caller config is a loud error, never a silent misprune
    with pytest.raises(ValueError, match="k=8"):
        ivf_probe((catalog, "ann_g"), qrows, cents[:4], nprobe=2, top_k=5)
    with pytest.raises(ValueError, match="authoritative"):
        ivf_probe((catalog, "ann_g"), qrows, cents, nprobe=3, top_k=5,
                  group_col="cell_group", groups=5)
    with pytest.raises(ValueError, match="authoritative"):
        ivf_probe((catalog, "ann_flat"), qrows, cents, nprobe=3,
                  top_k=5, group_col="cell_group", groups=3)


def test_ivf_probe_via_index_no_driver_centroid_list(spark, sf_small,
                                                     tmp_path):
    """r10: ivf_probe(index=) probes the query batch through the
    centroid state instead of a driver-held k-sized list — identical
    neighbors at probe-everything (CentroidTable and CentroidIndex),
    including the zero-norm query pin; missing both sources raises."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        CentroidIndex,
        CentroidTable,
        ivf_probe,
        kmeans_assign,
        train_kmeans,
    )

    vecs = load_table(spark, sf_small, "embeddings")
    cents = train_kmeans(vecs, k=8, iters=4)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    layout = vecs.join(kmeans_assign(vecs, cents), "vec_id")
    write_ann_layout(catalog, layout, "ann", k=8)
    corpus = catalog.read("ann")

    qrows = [(r.vec_id, [float(x) for x in r.embedding])
             for r in vecs.orderBy("vec_id").limit(6).collect()]
    qrows.append((999000, [0.0] * 64))  # zero-norm probe pin
    lit = sorted(map(tuple, ivf_probe(
        corpus, qrows, cents, nprobe=3, top_k=5).collect()))
    tbl = CentroidTable(cents, nprobe=10**6)
    via_tbl = sorted(map(tuple, ivf_probe(
        corpus, qrows, index=tbl, nprobe=3, top_k=5).collect()))
    idx = CentroidIndex(cents, nprobe=10**6)
    via_idx = sorted(map(tuple, ivf_probe(
        corpus, qrows, index=idx, nprobe=3, top_k=5).collect()))
    assert via_tbl == lit and via_idx == lit

    # the (catalog, table) pin composes with index= (k from index.k)
    via_pin = sorted(map(tuple, ivf_probe(
        (catalog, "ann"), qrows, index=tbl, nprobe=3, top_k=5)
        .collect()))
    assert via_pin == lit

    with pytest.raises(ValueError, match="centroids= .* or"):
        ivf_probe(corpus, qrows, nprobe=3, top_k=5)


def test_grouped_probe_missing_column_targeted_error(spark):
    """ivf_probe(group_col=) on a per-cell table names the mismatch
    (r8 ADVICE) instead of a generic missing-column AnalysisException."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.similarity import ivf_probe

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, centroid_id int")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    with pytest.raises(ValueError, match="no 'cell_group' column"):
        ivf_probe(corpus, [(9, [1.0, 0.1])], cents,
                  group_col="cell_group", groups=2)
