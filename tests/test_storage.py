"""Partitioned/clustered layout tests (SURVEY.md §4 index-replacement row).

Verifies the two scale mechanisms actually engage:
  - partition pruning: a date predicate reaches the scan as a
    PartitionFilter and the non-matching directories are not read;
  - clustering: rows inside each written file are sorted by the cluster
    key, so parquet min-max stats can skip row groups.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from django_indexer_spark.sources.storage import read_pruned, write_clustered


def _open_jobs(spark, open_table):
    """(frame, Spark job ids) of one ``open_table()`` call — opening a
    silver table must only plan, never run a job."""
    import uuid

    sc = spark.sparkContext
    group = f"silver-open-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "open a silver table")
    try:
        df = open_table()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def _manifest_fields(silver, d):
    """name -> type of the schema the table's manifest records."""
    from pyspark.sql.types import StructType

    return {f.name: f.dataType for f in StructType.fromJson(silver.read_manifest(d)["schema"])}


def _fields(df):
    return {f.name: f.dataType for f in df.schema}


def _file_columns(silver, d):
    """Column names in the parquet footers of the table's current files."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(root, f)
        for v in silver.current_paths(d, silver.read_manifest(d))
        for root, _, fs in os.walk(v)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    return {name for f in files for name in pq.read_schema(f).names}


def test_write_clustered_partitions_prune_and_cluster_sorts(spark, tmp_path):
    out = str(tmp_path / "donations_gold")
    df = spark.range(0, 1000).select(
        F.col("id").alias("donation_id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 5).cast("int")).alias("day"),
        F.concat(F.lit("donor_"), (F.col("id") % 37).cast("string")).alias("donor_id"),
        (F.col("id") * 10).alias("amount"),
    )
    write_clustered(df, out, partition_cols=["day"], cluster_cols=["donor_id"])

    # hive-style partition directories, one per day
    dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/day=*"))
    assert dirs == [f"day=2024-01-0{d}" for d in range(1, 6)]

    # partition predicate prunes: only the matching directory is scanned
    pruned = read_pruned(spark, out, F.col("day") == "2024-01-03")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert pruned.count() == 200
    files = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    assert all("day=2024-01-03" in f for f in files)

    # clustering: within each file rows are sorted by donor_id
    one_file = next(iter(files))
    rows = [
        r["donor_id"]
        for r in spark.read.parquet(one_file.replace("file://", "")).collect()
    ]
    assert rows == sorted(rows)

    # round-trip completeness
    assert spark.read.parquet(out).count() == 1000


def test_write_clustered_files_per_partition_buckets(spark, tmp_path):
    out = str(tmp_path / "bucketed")
    df = spark.range(0, 400).select(
        (F.col("id") % 2).cast("int").alias("part"),
        F.col("id").alias("k"),
        (F.col("id") % 50).alias("cluster_key"),
    )
    write_clustered(
        df, out, partition_cols=["part"], cluster_cols=["cluster_key"], files_per_partition=3
    )
    # hash(cluster)%3 bounds each dir at ≤3 files (collisions and AQE
    # coalescing can merge buckets — the guarantee is the upper bound,
    # which is what prevents the cores x dirs small-file explosion)
    for p in (0, 1):
        files = glob.glob(f"{out}/part={p}/*.parquet")
        assert 1 <= len(files) <= 3
    assert spark.read.parquet(out).count() == 400


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    from django_indexer_spark.sources.storage import write_bucketed

    spark.sql("CREATE DATABASE IF NOT EXISTS buckets_t")
    a = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed(a, "buckets_t.fact_a", ["k"], 8, sort_cols=["k"])
    write_bucketed(b, "buckets_t.fact_b", ["k"], 8, sort_cols=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the fact⋈fact (sort-merge) path: at real scale neither
        # side broadcasts; locally the 10k-row table would
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ta = spark.table("buckets_t.fact_a")
        tb = spark.table("buckets_t.fact_b")
        joined = ta.join(tb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: the write paid the shuffle once; the join pays none
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS buckets_t.fact_a")
        spark.sql("DROP TABLE IF EXISTS buckets_t.fact_b")
        spark.sql("DROP DATABASE IF EXISTS buckets_t")


def test_silver_date_partition_prunes_files(spark, tmp_path):
    """Date-partitioned silver (SURVEY §4: donations' donated_at composite
    indexes → partition by date inside each key-hash bucket version): a
    donated-date range predicate must reach every bucket scan as a
    PartitionFilter, and only the matching date dirs' files are read.
    Merge semantics must survive a key CHANGING its partition value (the
    whole bucket version is rewritten, so the old date dir is superseded
    with it)."""
    from django_indexer_spark.sources import silver

    d = str(tmp_path / "donations")

    def batch(rows):
        return spark.createDataFrame(
            rows, "dedup_key string, donated_date date, amount long, version long"
        ).withColumn("donated_date", F.col("donated_date").cast("date"))

    import datetime as dt

    day = lambda n: dt.date(2024, 1, n)  # noqa: E731
    rows1 = [(f"k{i}", day(1 + i % 4), i * 10, 1) for i in range(40)]
    silver.merge_batch(
        spark, d, batch(rows1), ["dedup_key"], "version",
        batch_id=1, n_buckets=4, partition_col="donated_date",
    )
    # layout: every bucket version contains hive date dirs
    versions = silver.current_paths(d, silver.read_manifest(d))
    assert versions and all(glob.glob(f"{v}/donated_date=2024-01-0*") for v in versions)

    # opening reads the manifest schema: no footer inference, no job —
    # full and bucket-pruned — and the manifest describes the frame. Every
    # bucket version sits under the table root, so each open is ONE parquet
    # scan (no union of per-bucket-version scans)
    t, jobs = _open_jobs(spark, lambda: silver.read_table(spark, d))
    assert jobs == []
    pruned, jobs = _open_jobs(spark, lambda: silver.read_table(spark, d, buckets=[0, 1]))
    assert jobs == []
    for frame in (t, pruned):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
        assert "Union" not in plan, plan
    assert _manifest_fields(silver, d) == _fields(silver.read_table(spark, d))
    assert t.columns[-1] == "donated_date"  # restored by partition discovery
    # the bucket id is stored only as the __b= dir: no data file carries it
    assert not {"__bucket", "__bp", "__b"} & _file_columns(silver, d)

    # range predicate prunes: PartitionFilters in every scan + only
    # matching dirs' files are touched
    q = t.filter(
        (F.col("donated_date") >= "2024-01-02") & (F.col("donated_date") <= "2024-01-03")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters: [") >= 1
    assert "isnotnull(donated_date" in plan
    files = {r[0] for r in q.select(F.input_file_name()).distinct().collect()}
    assert files and all(
        "donated_date=2024-01-02" in f or "donated_date=2024-01-03" in f for f in files
    )
    assert q.count() == 20

    # cross-partition update: k0 moves day 1 → day 4 with a newer version;
    # the old (day-1) row must be gone, not shadowed
    silver.merge_batch(
        spark, d, batch([("k0", day(4), 999, 2)]), ["dedup_key"], "version",
        batch_id=2, n_buckets=4, partition_col="donated_date",
    )
    got = {
        (r["dedup_key"], r["donated_date"], r["amount"])
        for r in silver.read_table(spark, d).filter(F.col("dedup_key") == "k0").collect()
    }
    assert got == {("k0", day(4), 999)}

    # partitioning is fixed at table creation: wrong/missing partition_col raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition_col"):
        silver.merge_batch(
            spark, d, batch([("k1", day(1), 1, 3)]), ["dedup_key"], "version",
            batch_id=3, n_buckets=4,
        )

    # a store in the old b{k}/v{n} layout is never read in part: opening it
    # (full or bucket-pruned) and merging into it raise, naming the table,
    # and the failed merge leaves the store as it was
    import json
    import shutil

    old = str(tmp_path / "legacy_donations")
    m = silver.read_manifest(d)
    for b, v in m["buckets"].items():
        shutil.copytree(silver.version_dir(d, b, v), os.path.join(old, f"b{b}", f"v{v}"))
    old_buckets = {b: f"v{v}" for b, v in m["buckets"].items()}
    with open(os.path.join(old, silver.MANIFEST), "w") as f:
        json.dump({**m, "buckets": old_buckets}, f)
    for open_or_merge in (
        lambda: silver.read_table(spark, old),
        lambda: silver.read_table(spark, old, buckets=[0]),
        lambda: silver.merge_batch(
            spark, old, batch([("k1", day(1), 1, 3)]), ["dedup_key"], "version",
            batch_id=3, n_buckets=4, partition_col="donated_date",
        ),
    ):
        with _pytest.raises(ValueError, match="legacy_donations"):
            open_or_merge()
    assert silver.read_manifest(old)["buckets"] == old_buckets
    assert sorted(os.listdir(old)) == sorted([silver.MANIFEST, *(f"b{b}" for b in m["buckets"])])


def test_silver_columns_are_fixed_and_opens_read_the_manifest(spark, tmp_path):
    """A table's column names are fixed: a batch that adds or omits one
    raises, naming the table, and leaves the manifest and the dir
    listing as they were. Opens take the manifest schema (no Spark job),
    which equals what ``read_table`` returns and stays the table's type
    when a batch lands only in new buckets."""
    import json

    import pytest as _pytest

    from django_indexer_spark.sources import silver

    d = str(tmp_path / "evolving")

    def df(rows, schema):
        return spark.createDataFrame(rows, schema)

    def listing():
        return sorted((root, sorted(dirs), sorted(fs)) for root, dirs, fs in os.walk(d))

    silver.merge_batch(
        spark, d,
        df([("k1", 10, 1), ("k2", 20, 1), ("k3", 30, 1)], "k string, amount long, version long"),
        ["k"], "version", batch_id=1, n_buckets=4,
    )
    silver.merge_batch(
        spark, d, df([("k1", 11, 2)], "k string, amount long, version long"),
        ["k"], "version", batch_id=2, n_buckets=4,
    )
    # opening needs no footer read and runs no job
    t, jobs = _open_jobs(spark, lambda: silver.read_table(spark, d))
    assert jobs == []
    assert _manifest_fields(silver, d) == _fields(t)
    assert {r["k"]: r["amount"] for r in t.collect()} == {"k1": 11, "k2": 20, "k3": 30}
    assert not {"__bucket", "__bp", "__b"} & _file_columns(silver, d)

    # bucket-pruned open of an untouched bucket
    b = (
        spark.createDataFrame([("k2",)], "k string")
        .select(silver.bucket_expr(["k"], 4).alias("b"))
        .collect()[0]["b"]
    )
    sub, jobs = _open_jobs(spark, lambda: silver.read_table(spark, d, buckets=[b]))
    assert jobs == []
    assert sub.filter(F.col("k") == "k2").count() == 1

    # a key whose bucket the table does not have yet
    used = set(silver.read_manifest(d)["buckets"])
    new_key = next(
        r["k"]
        for r in df([(f"n{i}",) for i in range(32)], "k string")
        .select("k", silver.bucket_expr(["k"], 4).alias("b"))
        .collect()
        if str(r["b"]) not in used
    )

    # a batch that adds a column (here into a new bucket) or omits one is
    # rejected before it stages anything
    manifest, before = silver.read_manifest(d), listing()
    for rows, schema in (
        ([(new_key, 1, 4, True)], "k string, amount long, version long, extra boolean"),
        ([("k2", 3)], "k string, version long"),
    ):
        with _pytest.raises(ValueError, match="evolving: batch columns"):
            silver.merge_batch(
                spark, d, df(rows, schema), ["k"], "version", batch_id=4, n_buckets=4
            )
        assert silver.read_manifest(d) == manifest
        assert listing() == before

    # a batch landing only in a NEW bucket with a narrower type (int into
    # a long column) publishes the table's type, so older buckets still read
    silver.merge_batch(
        spark, d, df([(new_key, 5, 5)], "k string, amount int, version long"),
        ["k"], "version", batch_id=5, n_buckets=4,
    )
    assert _manifest_fields(silver, d) == _fields(t)
    got = {r["k"]: r["amount"] for r in silver.read_table(spark, d).collect()}
    assert got == {"k1": 11, "k2": 20, "k3": 30, new_key: 5}

    # readers never infer a schema: a manifest without one names the table
    m = silver.read_manifest(d)
    del m["schema"]
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(m, f)
    with _pytest.raises(ValueError, match="evolving: manifest has no schema"):
        silver.read_table(spark, d)


def test_silver_bucket_layout_is_fixed_at_creation(spark, tmp_path):
    """n_buckets and bucket_by are recorded at table creation: a merge
    that names a different value raises, naming the field, before it
    stages or publishes anything."""
    import pytest as _pytest

    from django_indexer_spark.sources import silver

    d = str(tmp_path / "bands")
    rows = spark.createDataFrame(
        [("a", "x", 1), ("b", "y", 1)], "k string, band string, version long"
    )
    silver.merge_batch(
        spark, d, rows, ["k"], "version", batch_id=1, n_buckets=4, bucket_by=["band"]
    )
    manifest = silver.read_manifest(d)
    listing = sorted((root, sorted(dirs), sorted(fs)) for root, dirs, fs in os.walk(d))
    for field, layout in (
        ("n_buckets", {"n_buckets": 8, "bucket_by": ["band"]}),
        ("bucket_by", {"n_buckets": 4, "bucket_by": ["k"]}),
        ("bucket_by", {"n_buckets": 4}),
    ):
        with _pytest.raises(ValueError, match=f"{field}="):
            silver.merge_batch(spark, d, rows, ["k"], "version", batch_id=2, **layout)
        assert silver.read_manifest(d) == manifest
        assert sorted(
            (root, sorted(dirs), sorted(fs)) for root, dirs, fs in os.walk(d)
        ) == listing


def test_zorder_layout_prunes_on_non_leading_column(spark, tmp_path):
    """Z-order vs lexicographic layout, measured from parquet footers:
    for a narrow predicate on the SECOND clustered column, far fewer
    z-ordered files intersect the predicate's min-max box than linearly
    sorted ones (where the leading-column sort spreads every l_partkey
    range across all files)."""
    import pyarrow.parquet as pq

    from django_indexer_spark.sources.storage import write_zordered

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    n_files = 8
    linear = str(tmp_path / "linear")
    zordered = str(tmp_path / "zorder")
    (
        li.repartitionByRange(n_files, F.col("l_orderkey"))
        .sortWithinPartitions("l_orderkey", "l_partkey")
        .write.parquet(linear)
    )
    write_zordered(li, zordered, ["l_orderkey", "l_partkey"], n_files)

    def files_hitting(path, lo, hi):
        hit = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.read_metadata(f)
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "l_partkey"
                )
                s = col.statistics
                fmin = s.min if fmin is None else min(fmin, s.min)
                fmax = s.max if fmax is None else max(fmax, s.max)
            if fmin is not None and not (fmax < lo or fmin > hi):
                hit += 1
        return hit

    # a ~5%-wide l_partkey band
    pmin, pmax = [
        r[0]
        for r in li.agg(F.min("l_partkey"), F.max("l_partkey")).collect()
    ][0], li.agg(F.max("l_partkey")).collect()[0][0]
    lo = pmin
    hi = pmin + max(1, (pmax - pmin) // 20)
    lin_hits = files_hitting(linear, lo, hi)
    z_hits = files_hitting(zordered, lo, hi)
    # lexicographic-by-orderkey spreads partkeys everywhere: all files hit
    assert lin_hits == n_files
    assert z_hits < lin_hits, (z_hits, lin_hits)
    # layout changes bytes, never rows
    assert (
        spark.read.parquet(zordered).count() == li.count()
    )
