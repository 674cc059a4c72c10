"""Row-level mutation tests: DELETE / UPDATE / MERGE / DROP PARTITION
(sources/mutations.py) — copy-on-write semantics, untouched-file
discipline, crash recovery, as-of watermarks, live-stream guards, and
every loud-failure contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.sources.mutations import (
    delete_where,
    drop_partitions,
    merge_into,
    update_where,
)


def _mk_flat(spark, path, n=200, files=8):
    df = spark.range(0, n).select(
        F.col("id"),
        (F.col("id") % 10).alias("k"),
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias("user"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise((F.col("id") * 2).cast("double"))
        .alias("v"),
    )
    df.repartition(files).write.parquet(path)
    return df


def _file_states(path):
    """{relative data-file path: (size, mtime)} — the untouched-file pin."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                p = os.path.join(root, n)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


# ---------------------------------------------------------------------------
# DELETE
# ---------------------------------------------------------------------------


def test_delete_where_matches_filter_semantics(spark, tmp_path):
    """Result == original minus rows where the predicate is TRUE; a
    NULL predicate keeps the row (SQL three-valued logic)."""
    path = str(tmp_path / "t")
    _mk_flat(spark, path)
    before = spark.read.parquet(path).collect()
    cond = F.col("v") > 300  # NULL for id % 13 == 0 rows
    expected = sorted(
        (r.id for r in before if r.v is not None and r.v > 300)
    )
    res = delete_where(spark, path, cond)
    after = spark.read.parquet(path)
    assert res["status"] == "deleted"
    assert res["n_rows_deleted"] == len(expected)
    got = sorted(r.id for r in before)
    kept = sorted(r.id for r in after.collect())
    assert kept == [i for i in got if i not in set(expected)]
    # null-predicate rows all survived
    assert after.where(F.col("v").isNull()).count() == sum(
        1 for r in before if r.v is None
    )
    # idempotent noop second pass
    res2 = delete_where(spark, path, cond)
    assert res2["status"] == "noop" and res2["n_rows_deleted"] == 0


def test_delete_where_touches_only_matching_files(spark, tmp_path):
    """Files without matches keep their exact bytes and mtime — the
    copy-on-write discipline that makes a 100 TB point-delete cheap.
    The delete is keyed so matches land in a known subset of files."""
    path = str(tmp_path / "t")
    # one file per k bucket: matches (k == 3) live in exactly one file
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 5).alias("k")
    )
    df.repartition(5, "k").write.parquet(path)
    before = _file_states(path)
    res = delete_where(spark, path, F.col("k") == 3)
    after = _file_states(path)
    assert res["n_rows_deleted"] == 60
    untouched_before = {
        f: st for f, st in before.items() if f in after
    }
    # every surviving original file is byte-identical
    for f, st in untouched_before.items():
        assert after[f] == st, f
    assert res["n_files_untouched"] == len(untouched_before)
    assert spark.read.parquet(path).where("k = 3").count() == 0
    assert spark.read.parquet(path).count() == 240


def test_delete_where_sql_string_and_full_file_retire(spark, tmp_path):
    """A string predicate compiles via F.expr; a file whose every row
    matches retires with NO replacement file."""
    path = str(tmp_path / "t")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("k")
    )
    for kv in range(4):  # exactly one file per k value
        base.where(F.col("k") == kv).coalesce(1) \
            .write.mode("append").parquet(path)
    n_before = len(_file_states(path))
    assert n_before == 4
    res = delete_where(spark, path, "k = 2")
    assert res["status"] == "deleted" and res["n_rows_deleted"] == 25
    after = spark.read.parquet(path)
    assert after.count() == 75 and after.where("k = 2").count() == 0
    # the fully-deleted file is gone and nothing replaced it
    assert len(_file_states(path)) == n_before - 1


def test_delete_where_prune_predicates_stay_exact(spark, tmp_path):
    """Routing the probe through the footer-stats manifest changes
    which files are OPENED, never the answer; out-of-range files stay
    byte-identical."""
    from iot_sensor_data_pipeline_spark.sources.manifest import write_manifest

    path = str(tmp_path / "t")
    spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 10).alias("k")
    ).repartitionByRange(10, "id").write.parquet(path)
    write_manifest(spark, path, ["id"])
    before = _file_states(path)
    res = delete_where(
        spark, path, F.col("id").between(150, 250),
        prune_predicates={"id": (150, 250)},
        manifest_cols=["id"],
    )
    assert res["n_rows_deleted"] == 101
    after = _file_states(path)
    same = [f for f in before if f in after and after[f] == before[f]]
    # ranges outside [150, 250] were never rewritten
    assert len(same) >= 8
    got = spark.read.parquet(path)
    assert got.count() == 899
    assert got.where("id between 150 and 250").count() == 0
    # manifest refreshed: pruning still exact post-swap
    from iot_sensor_data_pipeline_spark.sources.manifest import read_pruned

    assert read_pruned(spark, path, {"id": (900, None)}).count() == 100


def test_mutations_run_recovery_first(spark, tmp_path):
    """A forged crashed swap (journal present, adds missing) rolls BACK
    before the mutation plans anything — shared recover_optimize
    discipline."""
    import json

    path = str(tmp_path / "t")
    _mk_flat(spark, path, n=50, files=2)
    with open(os.path.join(path, "_optimize_journal.json"), "w") as fh:
        json.dump({"add": ["cdeadbeef-0.parquet"], "retire": []}, fh)
    res = delete_where(spark, path, F.lit(False))
    assert res["recovered"] == "back"
    assert res["status"] == "noop"
    assert spark.read.parquet(path).count() == 50


def test_delete_sets_compacted_through_watermark(spark, tmp_path):
    """Deleting rows out of epoch-named sink files retires those files
    into c-files — the epochs are no longer reconstructible, so the
    as-of guard must arm exactly as it does for OPTIMIZE."""
    from iot_sensor_data_pipeline_spark.sources.sinks import (
        parquet_batch_sink,
        read_compacted_through,
        read_sink_as_of,
    )

    path = str(tmp_path / "sink")
    ckpt = "/ckpt/MUT"
    sink = parquet_batch_sink(path, checkpoint=ckpt)
    for e, (lo, hi) in enumerate([(0, 100), (100, 200), (200, 260)]):
        sink(spark.range(lo, hi).select(F.col("id").alias("k")).coalesce(1), e)
    assert read_sink_as_of(spark, path, ckpt, 1).count() == 200

    res = delete_where(spark, path, F.col("k") < 150,
                       live_checkpoints=[ckpt])
    assert res["status"] == "deleted" and res["n_rows_deleted"] == 150
    # epochs 0 and 1 were rewritten -> watermark 1; epoch 2 untouched
    assert read_compacted_through(spark, path, ckpt) == 1
    with pytest.raises(ValueError, match="history compacted"):
        read_sink_as_of(spark, path, ckpt, 1)
    cur = read_sink_as_of(spark, path, ckpt, None, allow_compacted=True)
    assert cur.count() == 110


def test_delete_refuses_live_newest_epoch(spark, tmp_path):
    """Matches inside a live lineage's NEWEST epoch RAISE (a rewrite
    would race the stream's replay); matches confined to settled epochs
    proceed."""
    from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink

    path = str(tmp_path / "sink")
    ckpt = "/ckpt/LIVE"
    sink = parquet_batch_sink(path, checkpoint=ckpt)
    sink(spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1), 0)
    sink(spark.range(100, 200).select(F.col("id").alias("k")).coalesce(1), 1)
    with pytest.raises(RuntimeError, match="NEWEST"):
        delete_where(spark, path, F.col("k") >= 150,
                     live_checkpoints=[ckpt])
    # nothing changed
    assert spark.read.parquet(path).count() == 200
    # settled-epoch matches are fine with the stream running
    res = delete_where(spark, path, F.col("k") < 50,
                       live_checkpoints=[ckpt])
    assert res["status"] == "deleted" and res["n_rows_deleted"] == 50


def test_delete_schema_guards(spark, tmp_path):
    """Reserved routing column and lossy schema evolution both raise
    BEFORE any write."""
    path = str(tmp_path / "t")
    spark.range(5).select(F.col("id"), F.lit("x").alias("__src_file")) \
        .write.parquet(path)
    with pytest.raises(ValueError, match="__src_file"):
        delete_where(spark, path, F.lit(True))

    # schema-evolved table: mutations read the mergeSchema UNION, so
    # the evolved file's extra column survives the rewrite (upgraded
    # files carry the union schema; old rows read it as NULL) — never
    # the silent value drop a single-footer pinned schema would cause
    path2 = str(tmp_path / "t2")
    spark.range(0, 10).select(F.col("id")).coalesce(1).write.parquet(path2)
    spark.range(10, 20).select(
        F.col("id"), (F.col("id") * 1.0).alias("extra")
    ).coalesce(1).write.mode("append").parquet(path2)
    res = delete_where(spark, path2, "id in (5, 15)")
    assert res["n_rows_deleted"] == 2
    got = spark.read.option("mergeSchema", "true").parquet(path2)
    assert sorted(got.columns) == ["extra", "id"]
    assert got.count() == 18
    assert got.where("id = 16").first().extra == 16.0  # value preserved
    assert got.where("id = 4").first().extra is None

    # incompatible TYPE evolution still fails loudly before any write
    path3 = str(tmp_path / "t3")
    spark.range(0, 5).select(F.col("id").cast("long").alias("x")) \
        .coalesce(1).write.parquet(path3)
    spark.createDataFrame([("s",)], "x string").coalesce(1) \
        .write.mode("append").parquet(path3)
    with pytest.raises(Exception, match="[Mm]erge|[Ff]ailed"):
        delete_where(spark, path3, F.lit(True))


# ---------------------------------------------------------------------------
# UPDATE
# ---------------------------------------------------------------------------


def test_update_where_simultaneous_assignment(spark, tmp_path):
    """Every RHS sees the ORIGINAL row: a two-column swap works, and
    values cast to the column's existing type."""
    path = str(tmp_path / "t")
    spark.range(0, 40).select(
        F.col("id"),
        (F.col("id") * 10).alias("a"),
        (F.col("id") * 100).alias("b"),
    ).repartition(3).write.parquet(path)
    res = update_where(
        spark, path, F.col("id") < 10,
        {"a": F.col("b"), "b": F.col("a")},
    )
    assert res["status"] == "updated" and res["n_rows_updated"] == 10
    got = {r.id: (r.a, r.b) for r in spark.read.parquet(path).collect()}
    for i in range(40):
        assert got[i] == ((i * 100, i * 10) if i < 10 else (i * 10, i * 100))
    # type preservation: double literal into a long column stays long
    update_where(spark, path, "id = 0", {"a": F.lit(7.9)})
    f = spark.read.parquet(path)
    assert dict(f.dtypes)["a"] == "bigint"
    assert f.where("id = 0").first().a == 7


def test_update_where_guards(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).select(
        F.col("id"), F.lit("a").alias("dt2")
    ).write.partitionBy("dt2").parquet(path)
    with pytest.raises(ValueError, match="partition columns"):
        update_where(spark, path, "id = 1", {"dt2": F.lit("b")})
    with pytest.raises(ValueError, match="does not have"):
        update_where(spark, path, "id = 1", {"nope": F.lit(1)})
    with pytest.raises(ValueError, match="empty SET"):
        update_where(spark, path, "id = 1", {})


def test_update_where_partitioned_literal_values(spark, tmp_path):
    """Partition columns inside the predicate compare as the literal
    directory strings (hour=00 is '00'), and the rewrite lands back in
    the same directories verbatim."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"{i % 2:02d}") for i in range(40)], "id long, hour string"
    )
    df.repartition(2).write.partitionBy("hour").parquet(path)
    assert os.path.isdir(os.path.join(path, "hour=00"))
    res = update_where(
        spark, path, F.col("hour") == "00", {"id": F.col("id") + 1000}
    )
    assert res["n_rows_updated"] == 20
    # directories round-tripped verbatim (no hour=0 minted)
    dirs = sorted(
        d for d in os.listdir(path) if d.startswith("hour=")
    )
    assert dirs == ["hour=00", "hour=01"]
    got = spark.read.parquet(path)
    assert got.where(F.col("hour") == "00").agg(
        F.min("id")
    ).first()[0] >= 1000
    assert got.where(F.col("hour") == "01").agg(F.max("id")).first()[0] < 1000


# ---------------------------------------------------------------------------
# MERGE
# ---------------------------------------------------------------------------


def test_merge_into_upsert_parity(spark, tmp_path):
    """MERGE == the equivalent full-outer expression computed
    independently; untouched files stay byte-identical."""
    path = str(tmp_path / "t")
    spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 8).alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("val"),
    ).repartition(8, "id").write.parquet(path)
    before_states = _file_states(path)
    src = spark.createDataFrame(
        [(5, 99, "upd5"), (6, 99, "upd6"), (900, 1, "new900")],
        "id long, k long, val string",
    )
    res = merge_into(spark, path, src, on=["id"])
    assert res["status"] == "merged"
    assert res["n_rows_updated"] == 2 and res["n_rows_inserted"] == 1
    got = {r.id: (r.k, r.val) for r in spark.read.parquet(path).collect()}
    assert len(got) == 201
    assert got[5] == (99, "upd5") and got[6] == (99, "upd6")
    assert got[900] == (1, "new900")
    assert got[7] == (7, "v7")
    after_states = _file_states(path)
    identical = [
        f for f in before_states
        if f in after_states and after_states[f] == before_states[f]
    ]
    assert len(identical) == res["n_files_untouched"]
    assert res["n_files_rewritten"] <= 2  # ids 5 and 6 live in <=2 files


def test_merge_into_delete_and_update_only_modes(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 50).select(F.col("id"), F.lit(0).alias("n")) \
        .repartition(4).write.parquet(path)
    src = spark.createDataFrame(
        [(1,), (2,), (777,)], "id long"
    )
    res = merge_into(spark, path, src, on=["id"], when_matched="delete",
                     insert=False)
    assert res["n_rows_deleted"] == 2 and res["n_rows_inserted"] == 0
    got = spark.read.parquet(path)
    # helper columns must not leak into the table schema
    assert got.columns == ["id", "n"]
    assert got.count() == 48
    assert got.where("id in (1, 2, 777)").count() == 0
    # update-only: unmatched source rows do NOT insert
    src2 = spark.createDataFrame([(3, 5), (888, 5)], "id long, n long")
    res2 = merge_into(spark, path, src2, on=["id"], insert=False)
    assert res2["n_rows_updated"] == 1 and res2["n_rows_inserted"] == 0
    got2 = spark.read.parquet(path)
    assert got2.where("id = 888").count() == 0
    assert got2.where("id = 3").first().n == 5


def test_merge_into_insert_only_and_missing_columns(spark, tmp_path):
    """No key matches -> zero rewrites, inserts land as new files;
    source columns missing from the table insert as typed NULLs."""
    path = str(tmp_path / "t")
    spark.range(0, 30).select(
        F.col("id"), (F.col("id") * 1.5).alias("score"),
        F.lit("x").alias("tag"),
    ).repartition(2).write.parquet(path)
    before = _file_states(path)
    src = spark.createDataFrame([(100, 9.0), (101, 10.0)],
                                "id long, score double")
    res = merge_into(spark, path, src, on=["id"])
    assert res["n_files_rewritten"] == 0 and res["n_rows_inserted"] == 2
    after = _file_states(path)
    for f, st in before.items():
        assert after[f] == st  # originals untouched byte-for-byte
    got = spark.read.parquet(path)
    assert got.count() == 32
    row = got.where("id = 100").first()
    assert row.score == 9.0 and row.tag is None


def test_merge_into_source_contract_violations(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).select(F.col("id"), F.lit(1).alias("n")) \
        .write.parquet(path)
    dup = spark.createDataFrame([(1, 2), (1, 3)], "id long, n long")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(spark, path, dup, on=["id"])
    nul = spark.createDataFrame([(None, 2)], "id long, n long")
    with pytest.raises(ValueError, match="NULL"):
        merge_into(spark, path, nul, on=["id"])
    extra = spark.createDataFrame([(1, 2, 3)], "id long, n long, zz long")
    with pytest.raises(ValueError, match="do not exist in the table"):
        merge_into(spark, path, extra, on=["id"])
    with pytest.raises(ValueError, match="'update' or 'delete'"):
        merge_into(spark, path, dup.limit(1), on=["id"],
                   when_matched="upsert")


def test_merge_into_partitioned_new_partition_and_migration_guard(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i * 2, "2024-01-01" if i < 10 else "2024-01-02")
         for i in range(20)],
        "id long, n long, dt string",
    ).repartition(2).write.partitionBy("dt").parquet(path)
    # upsert: one update in an existing partition + one insert into a
    # partition that does not exist yet
    src = spark.createDataFrame(
        [(3, 999, "2024-01-01"), (50, 1, "2024-03-01")],
        "id long, n long, dt string",
    )
    res = merge_into(spark, path, src, on=["id"])
    assert res["n_rows_updated"] == 1 and res["n_rows_inserted"] == 1
    got = spark.read.parquet(path)
    assert got.where("dt = '2024-03-01'").count() == 1
    assert got.where("id = 3").first().n == 999
    # a matched row may NOT migrate partitions
    mover = spark.createDataFrame(
        [(3, 1, "2024-01-02")], "id long, n long, dt string"
    )
    with pytest.raises(ValueError, match="migrate"):
        merge_into(spark, path, mover, on=["id"])
    # inserts into a partitioned table need the partition column
    nopart = spark.createDataFrame([(60, 1)], "id long, n long")
    with pytest.raises(ValueError, match="partition columns"):
        merge_into(spark, path, nopart, on=["id"])


def test_merge_into_bloom_pruned_candidates_stay_exact(spark, tmp_path):
    """With a bloom index on the key, MERGE prunes candidate files
    before the probe — same answer, and key-free files never rewrite."""
    from iot_sensor_data_pipeline_spark.sources.bloom_index import (
        write_bloom_index,
    )

    path = str(tmp_path / "t")
    spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 3).alias("n")
    ).repartitionByRange(10, "id").write.parquet(path)
    write_bloom_index(spark, path, ["id"], expected_keys_per_file=256)
    before = _file_states(path)
    src = spark.createDataFrame([(42, 777), (43, 777)], "id long, n long")
    res = merge_into(spark, path, src, on=["id"], bloom_cols=["id"])
    assert res["n_rows_updated"] == 2
    # ids 42/43 are range-clustered into ONE file; >= 8 files untouched
    assert res["n_files_rewritten"] == 1
    after = _file_states(path)
    assert sum(1 for f in before if after.get(f) == before[f]) >= 9
    got = spark.read.parquet(path)
    assert got.where("id in (42, 43)").agg(
        F.min("n"), F.max("n")
    ).first() == (777, 777)
    assert got.count() == 2000


def test_merge_schema_evolution_widens_additively(spark, tmp_path):
    """allow_new_columns=True: a source column the table lacks widens
    the schema — matched rows take the source's value, untouched rows
    read NULL through the union-schema readers, inserts carry it, and
    the untouched bulk stays byte-identical (VERDICT r12 task 6)."""
    path = str(tmp_path / "t")
    spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 8).alias("k")
    ).repartition(8, "id").write.parquet(path)
    before = _file_states(path)
    src = spark.createDataFrame(
        [(5, 99, "gold"), (6, 99, "silver"), (900, 1, "new")],
        "id long, k long, tier string",
    )
    # default stays the loud contract
    with pytest.raises(ValueError, match="allow_new_columns"):
        merge_into(spark, path, src, on=["id"])
    res = merge_into(spark, path, src, on=["id"], allow_new_columns=True,
                     change_feed=True)
    assert res["n_rows_updated"] == 2 and res["n_rows_inserted"] == 1
    # read under the module's union-schema rules (plain spark.read picks
    # one arbitrary footer on a mixed-schema table)
    got = {
        r.id: (r.k, r.tier)
        for r in spark.read.option("mergeSchema", "true")
        .parquet(path).collect()
    }
    assert len(got) == 201
    assert got[5] == (99, "gold") and got[6] == (99, "silver")
    assert got[900] == (1, "new")
    assert got[7] == (7, None)  # untouched row: NULL, not dropped
    after = _file_states(path)
    identical = [f for f in before if after.get(f) == before[f]]
    assert len(identical) == res["n_files_untouched"]
    # the feed's post-images carry the new column
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        read_change_feed,
    )

    feed = read_change_feed(spark, path)
    posts = {r.id: r.tier for r in feed.where(
        "__op in ('update_post', 'insert')").collect()}
    assert posts == {5: "gold", 6: "silver", 900: "new"}
    # later mutations on the evolved table see the union schema
    res2 = merge_into(
        spark, path,
        spark.createDataFrame([(7, 7, "bronze")],
                              "id long, k long, tier string"),
        on=["id"],
    )
    assert res2["n_rows_updated"] == 1
    got2 = spark.read.option("mergeSchema", "true").parquet(path)
    assert got2.where("id = 7").first().tier == "bronze"


def test_merge_schema_evolution_guards(spark, tmp_path):
    """Reserved-name collisions raise; after an additive merge, OPTIMIZE
    compacts the now mixed-schema table under the union schema and
    keeps every value of the new column (and every row)."""
    from iot_sensor_data_pipeline_spark.sources.manifest import (
        _walk_data_files,
        optimize_table,
    )

    path = str(tmp_path / "t")
    spark.range(0, 100).select(F.col("id"), F.lit(1).alias("n")) \
        .repartition(4).write.parquet(path)
    bad = spark.createDataFrame([(1, 1, "x")],
                                "id long, n long, __src_file string")
    with pytest.raises(ValueError, match="reserved"):
        merge_into(spark, path, bad, on=["id"], allow_new_columns=True)
    src = spark.createDataFrame([(1, 1, "x"), (500, 1, "y")],
                                "id long, n long, tag string")
    merge_into(spark, path, src, on=["id"], allow_new_columns=True)

    def rows():
        return sorted(
            tuple(r) for r in spark.read.option("mergeSchema", "true")
            .parquet(path).select("id", "n", "tag").collect()
        )

    before = rows()
    assert len(before) == 101
    res = optimize_table(spark, path, target_bytes=1 << 30)
    assert res["status"] == "optimized"
    assert len(_walk_data_files(spark, path)) == 1
    assert rows() == before
    tags = {r.id: r.tag for r in spark.read.parquet(path)
            .where("tag IS NOT NULL").collect()}
    assert tags == {1: "x", 500: "y"}


# ---------------------------------------------------------------------------
# DROP PARTITION
# ---------------------------------------------------------------------------


def test_drop_partitions_metadata_only(spark, tmp_path):
    """Matching directories delete whole; surviving partitions'
    files keep their exact bytes (nothing was read or rewritten)."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}", f"{i % 2:02d}")
         for i in range(60)],
        "id long, dt string, hour string",
    ).repartition(2).write.partitionBy("dt", "hour").parquet(path)
    before = _file_states(path)
    res = drop_partitions(spark, path, {"dt": "2024-01-02"})
    assert res["status"] == "dropped"
    assert res["n_partitions_dropped"] == 2  # two hour dirs under it
    after = _file_states(path)
    assert not os.path.isdir(os.path.join(path, "dt=2024-01-02"))
    for f, st in after.items():
        assert before[f] == st  # survivors byte-identical
    got = spark.read.parquet(path)
    assert got.where("dt = '2024-01-02'").count() == 0
    assert got.count() == 40
    # multi-value + deeper-level drop
    res2 = drop_partitions(spark, path, {"hour": ["00"]})
    assert res2["status"] == "dropped"
    assert spark.read.parquet(path).where("hour = '00'").count() == 0
    # noop + guards
    assert drop_partitions(spark, path, {"dt": "1999-01-01"})["status"] == "noop"
    with pytest.raises(ValueError, match="not partition columns"):
        drop_partitions(spark, path, {"id": "1"})
    flat = str(tmp_path / "flat")
    spark.range(5).write.parquet(flat)
    with pytest.raises(ValueError, match="not hive-partitioned"):
        drop_partitions(spark, flat, {"dt": "x"})


def test_drop_partitions_arms_asof_watermark(spark, tmp_path):
    """Dropping partitions that hold epoch-named sink files persists
    the compacted_through watermark BEFORE the deletes — as-of reads
    refuse the vanished epochs instead of silently shrinking."""
    from iot_sensor_data_pipeline_spark.sources.sinks import (
        parquet_batch_sink,
        read_compacted_through,
        read_sink_as_of,
    )

    path = str(tmp_path / "sink")
    ckpt = "/ckpt/DP"
    sink = parquet_batch_sink(path, partition_cols=["dt"],
                              checkpoint=ckpt)
    for e, dt in enumerate(["2024-01-01", "2024-01-02"]):
        sink(
            spark.range(e * 10, e * 10 + 10).select(
                F.col("id").alias("k"), F.lit(dt).alias("dt")
            ).coalesce(1),
            e,
        )
    assert read_sink_as_of(spark, path, ckpt, 0).count() == 10
    res = drop_partitions(spark, path, {"dt": "2024-01-01"})
    assert res["status"] == "dropped"
    assert read_compacted_through(spark, path, ckpt) == 0
    with pytest.raises(ValueError, match="history compacted"):
        read_sink_as_of(spark, path, ckpt, 0)
    assert spark.read.parquet(path).count() == 10


# ---------------------------------------------------------------------------
# CHANGE DATA FEED
# ---------------------------------------------------------------------------


def test_change_feed_delete_and_update(spark, tmp_path):
    """Mutations with change_feed=True append journal-atomic pre/post
    images under _changes/v<N>; the reader paginates by
    since_version."""
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        change_feed_versions,
        read_change_feed,
    )

    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    ).repartition(4).write.parquet(path)

    with pytest.raises(ValueError, match="no change feed"):
        read_change_feed(spark, path)

    res = delete_where(spark, path, "id >= 90", change_feed=True)
    assert res["n_rows_deleted"] == 10
    assert change_feed_versions(spark, path) == [1]
    feed = read_change_feed(spark, path)
    rows = feed.collect()
    assert len(rows) == 10
    assert {r["__op"] for r in rows} == {"delete"}
    assert sorted(r.id for r in rows) == list(range(90, 100))
    assert {r["__commit_version"] for r in rows} == {1}

    res2 = update_where(
        spark, path, "id < 3", {"v": F.col("v") + 1}, change_feed=True
    )
    assert res2["n_rows_updated"] == 3
    assert change_feed_versions(spark, path) == [1, 2]
    v2 = read_change_feed(spark, path, since_version=1)
    assert v2.count() == 6  # 3 pre + 3 post
    pre = {r.id: r.v for r in v2.where("__op = 'update_pre'").collect()}
    post = {r.id: r.v for r in v2.where("__op = 'update_post'").collect()}
    assert pre == {0: 0, 1: 10, 2: 20}
    assert post == {0: 1, 1: 11, 2: 21}
    # steady-state poll: nothing new -> empty frame, schema intact
    tail = read_change_feed(spark, path, since_version=2)
    assert tail.count() == 0 and "__op" in tail.columns

    # feed-less mutations mint no version
    delete_where(spark, path, "id = 50")
    assert change_feed_versions(spark, path) == [1, 2]

    # reserved column collision is loud
    bad = str(tmp_path / "bad")
    spark.range(3).select(F.col("id"), F.lit("x").alias("__op")) \
        .write.parquet(bad)
    with pytest.raises(ValueError, match="__op"):
        delete_where(spark, bad, "id = 0", change_feed=True)


def test_change_feed_merge_ops(spark, tmp_path):
    """MERGE emits update_pre/update_post for matched rows and insert
    post-images; delete-mode emits delete images."""
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        read_change_feed,
    )

    path = str(tmp_path / "t")
    spark.range(0, 50).select(
        F.col("id"), F.lit("old").alias("tag")
    ).repartition(3).write.parquet(path)
    src = spark.createDataFrame(
        [(7, "new7"), (8, "new8"), (500, "new500")], "id long, tag string"
    )
    merge_into(spark, path, src, on=["id"], change_feed=True)
    feed = read_change_feed(spark, path)
    by_op = {
        r["__op"]: r["n"]
        for r in feed.groupBy("__op").agg(F.count("*").alias("n")).collect()
    }
    assert by_op == {"update_pre": 2, "update_post": 2, "insert": 1}
    assert feed.where("__op = 'insert'").first().id == 500
    assert {
        r.tag for r in feed.where("__op = 'update_post'").collect()
    } == {"new7", "new8"}

    # delete-mode merge
    merge_into(
        spark, path, src.select("id").limit(2), on=["id"],
        when_matched="delete", insert=False, change_feed=True,
    )
    v2 = read_change_feed(spark, path, since_version=1)
    assert {r["__op"] for r in v2.collect()} == {"delete"}
    assert v2.count() == 2


def test_change_feed_crash_atomicity(spark, tmp_path):
    """The feed commits iff the swap commits: rollback recovery deletes
    the staged feed; forward recovery publishes it; an orphan staging
    with no journal is GC'd."""
    import json

    from iot_sensor_data_pipeline_spark.sources.manifest import (
        recover_optimize,
    )
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        change_feed_versions,
    )

    path = str(tmp_path / "t")
    spark.range(0, 20).select(F.col("id")).coalesce(1).write.parquet(path)

    def forge(cdf_name, adds):
        os.makedirs(os.path.join(path, "_changes", cdf_name), exist_ok=True)
        spark.range(1).select(
            F.col("id"), F.lit("delete").alias("__op")
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "_changes", cdf_name)
        )
        with open(os.path.join(path, "_optimize_journal.json"), "w") as fh:
            json.dump({"add": adds, "retire": [],
                       "cdf_staging": cdf_name}, fh)

    # rollback: an add is missing -> swap rolls back, feed discarded
    forge(".staging-dead1", ["cdead1-0.parquet"])
    assert recover_optimize(spark, path) == "back"
    assert change_feed_versions(spark, path) == []
    assert not os.path.exists(os.path.join(path, "_changes", ".staging-dead1"))

    # forward: every add present -> swap commits, feed publishes
    with open(os.path.join(path, "cdead2-0.parquet"), "wb") as fh:
        fh.write(b"")  # presence is what forward recovery checks
    forge(".staging-dead2", ["cdead2-0.parquet"])
    assert recover_optimize(spark, path) == "forward"
    assert change_feed_versions(spark, path) == [1]

    # orphan staging, no journal at all -> GC'd by the next recovery
    os.makedirs(os.path.join(path, "_changes", ".staging-orphan"))
    assert recover_optimize(spark, path) == "clean"
    assert not os.path.exists(
        os.path.join(path, "_changes", ".staging-orphan")
    )
    assert change_feed_versions(spark, path) == [1]


def test_sync_from_change_feed_replica_convergence(spark, tmp_path):
    """A downstream replica follows the upstream through the feed:
    after any mix of delete/update/merge, one sync makes replica ==
    upstream exactly; a second sync is a no-op; wiping the sync state
    re-applies every version and still converges (idempotent replay)."""
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        sync_from_change_feed,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.range(0, 80).select(
        F.col("id"), (F.col("id") % 9).alias("k"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"),
    )
    base.repartition(4).write.parquet(src)
    base.repartition(2).write.parquet(dst)  # replica starts in sync

    delete_where(spark, src, "k = 4", change_feed=True)
    update_where(spark, src, "id < 5", {"tag": F.lit("patched")},
                 change_feed=True)
    upd = spark.createDataFrame(
        [(70, 1, "merged"), (900, 2, "fresh")], "id long, k long, tag string"
    )
    merge_into(spark, src, upd, on=["id"], change_feed=True)

    def snapshot(path):
        return sorted(
            (r.id, r.k, r.tag) for r in spark.read.parquet(path).collect()
        )

    assert snapshot(src) != snapshot(dst)
    res = sync_from_change_feed(spark, src, dst, on=["id"])
    assert res["applied_versions"] == [1, 2, 3]
    assert res["n_deleted"] > 0 and res["n_upserted"] > 0
    assert snapshot(src) == snapshot(dst)

    # steady state: nothing new
    res2 = sync_from_change_feed(spark, src, dst, on=["id"])
    assert res2["applied_versions"] == [] and res2["to_version"] == 3

    # crash simulation: lose the sync state -> full replay converges
    os.remove(os.path.join(dst, "_sync_state.json"))
    res3 = sync_from_change_feed(spark, src, dst, on=["id"])
    assert res3["applied_versions"] == [1, 2, 3]
    assert snapshot(src) == snapshot(dst)

    # replica can even be a FILTERED projection consumer: new upstream
    # mutation, sync applies incrementally (version 4 only)
    delete_where(spark, src, "id = 10", change_feed=True)
    res4 = sync_from_change_feed(spark, src, dst, on=["id"])
    assert res4["applied_versions"] == [4]
    assert snapshot(src) == snapshot(dst)


def test_probe_plan_prunes_columns_and_pushes_filters(spark, tmp_path):
    """The mutation probe's scan must read ONLY the predicate's
    columns and push the raw predicate into the parquet scan
    (row-group stats skipping) — wrapping the predicate in the
    NULL-safe coalesce() there would demote it to a post-scan filter,
    which is exactly the regression this test exists to catch."""
    from iot_sensor_data_pipeline_spark.sources import mutations as M

    path = str(tmp_path / "t")
    spark.range(0, 5000).selectExpr(
        "id", "id * 2 AS a", "id * 3 AS b", "CAST(id AS STRING) AS s"
    ).repartition(4).write.parquet(path)
    part_cols, files, _rel = M._layout(spark, path)
    _ds, rs = M._read_schema_for(spark, path, files, part_cols)
    match_cond, _safe = M._cond_parts(F.col("a") > 9000)
    probe = (
        M._read_files(spark, path, files, rs)
        .where(match_cond)
        .groupBy(M._canon_expr(F.input_file_name()).alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # column pruning: only the predicate column is read
    assert "FileScan parquet [a#" in scan, scan
    assert "GreaterThan(a,9000)" in scan, scan  # pushed, not post-scan


def test_change_feed_partitioned_table(spark, tmp_path):
    """Feed rows from a partitioned table carry the partition columns
    as their verbatim directory strings, matching mutation-read
    semantics; the feed itself is flat (no partition dirs)."""
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        read_change_feed,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"{i % 2:02d}") for i in range(30)], "id long, hour string"
    ).repartition(2).write.partitionBy("hour").parquet(path)
    delete_where(spark, path, F.col("hour") == "00", change_feed=True)
    feed = read_change_feed(spark, path)
    rows = feed.collect()
    assert len(rows) == 15
    assert {r.hour for r in rows} == {"00"}  # verbatim string, not 0
    assert dict(feed.dtypes)["hour"] == "string"
    assert spark.read.parquet(path).count() == 15


def test_expire_change_feed_and_gap_guard(spark, tmp_path):
    """Expiry keeps the newest N versions; a consumer whose cursor
    predates the oldest retained version gets a LOUD gap error from
    both the reader and the replica sync — never a silent skip."""
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        change_feed_versions,
        expire_change_feed,
        read_change_feed,
        sync_from_change_feed,
    )

    path = str(tmp_path / "t")
    spark.range(0, 40).select(F.col("id"), F.lit(0).alias("n")) \
        .repartition(2).write.parquet(path)
    for i in range(4):
        update_where(spark, path, f"id = {i}", {"n": F.lit(i + 1)},
                     change_feed=True)
    assert change_feed_versions(spark, path) == [1, 2, 3, 4]

    res = expire_change_feed(spark, path, keep_versions=2)
    assert res == {"n_expired": 2, "oldest_retained": 3,
                   "clamped_by": None}
    assert change_feed_versions(spark, path) == [3, 4]

    # cursor at 2: v3 onward is contiguous -> fine
    assert read_change_feed(spark, path, since_version=2).count() == 4
    # cursor at 1: v2 is gone -> loud gap
    with pytest.raises(ValueError, match="gap"):
        read_change_feed(spark, path, since_version=1)
    # replica sync behind the expiry horizon: same loud failure
    dst = str(tmp_path / "dst")
    spark.range(0, 40).select(F.col("id"), F.lit(0).alias("n")) \
        .write.parquet(dst)
    with pytest.raises(ValueError, match="re-baseline"):
        sync_from_change_feed(spark, path, dst, on=["id"])


def test_table_health_reports_change_feed(spark, tmp_path):
    """The ops probe surfaces feed growth (version span + bytes) so a
    deployment knows when expire_change_feed is due; feed-less tables
    report None."""
    from iot_sensor_data_pipeline_spark.sources.manifest import table_health

    path = str(tmp_path / "t")
    spark.range(0, 30).select(F.col("id"), F.lit(0).alias("n")) \
        .repartition(2).write.parquet(path)
    assert table_health(spark, path)["change_feed"] is None
    update_where(spark, path, "id = 1", {"n": F.lit(1)}, change_feed=True)
    update_where(spark, path, "id = 2", {"n": F.lit(2)}, change_feed=True)
    cf = table_health(spark, path)["change_feed"]
    assert cf["n_versions"] == 2 and (cf["oldest"], cf["newest"]) == (1, 2)
    assert cf["total_bytes"] > 0


def test_table_checksum_and_verify_replica(spark, tmp_path):
    """(count, checksum) is layout/order-insensitive — a compacted or
    re-partitioned copy verifies equal; any single-cell divergence is
    caught; projected replicas verify over the shared column set;
    partition columns hash as verbatim strings so partitioned-vs-flat
    replica pairs verify; a fully-purged table counts (0, 0)."""
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        table_checksum,
        verify_replica,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.range(0, 500).select(
        F.col("id"), (F.col("id") % 7).alias("k"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )
    base.repartition(8).write.parquet(src)
    base.orderBy(F.desc("id")).coalesce(1).write.parquet(dst)  # same rows
    assert verify_replica(spark, src, dst)["in_sync"]
    assert table_checksum(spark, src) == table_checksum(spark, dst)

    # one-cell divergence flips the verdict
    update_where(spark, dst, "id = 250", {"k": F.lit(99)})
    res = verify_replica(spark, src, dst)
    assert not res["in_sync"]
    assert res["src_rows"] == res["dst_rows"] == 500  # count alone blind

    # a projected replica verifies over the shared columns
    proj = str(tmp_path / "proj")
    spark.read.parquet(src).select("id", "s").write.parquet(proj)
    assert verify_replica(spark, src, proj)["in_sync"]

    # partitioned upstream vs FLAT replica: the checksum types the
    # partition column as its verbatim directory string (hour=00 is
    # '00'), matching what the change feed delivers to replicas — a
    # default inference read would int-ify it and never verify
    psrc = str(tmp_path / "psrc")
    pdst = str(tmp_path / "pdst")
    pdata = spark.createDataFrame(
        [(i, f"{i % 2:02d}") for i in range(40)], "id long, hour string"
    )
    pdata.repartition(2).write.partitionBy("hour").parquet(psrc)
    pdata.write.parquet(pdst)
    assert verify_replica(spark, psrc, pdst)["in_sync"]

    with pytest.raises(ValueError, match="share no columns"):
        none = str(tmp_path / "none")
        spark.range(3).select(F.col("id").alias("zz")).write.parquet(none)
        verify_replica(spark, src, none)

    # fully-purged table: (0, 0), and verify reports the count gap
    purged = str(tmp_path / "purged")
    spark.range(5).select(F.col("id")).write.parquet(purged)
    delete_where(spark, purged, F.lit(True))
    assert table_checksum(spark, purged) == (0, 0)
    r = verify_replica(spark, src, purged)
    assert not r["in_sync"] and r["dst_rows"] == 0


def test_sync_filtered_replica_replay_and_guards(spark, tmp_path):
    """Filtered/projected replica sync: state loss replays the whole
    feed and CONVERGES (exits delete as no-ops, entrants re-upsert to
    identical values); the keys-in-columns guard raises before any
    write."""
    import pytest as _pytest

    from iot_sensor_data_pipeline_spark.sources.mutations import (
        sync_from_change_feed,
        update_where,
    )

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    df = spark.range(0, 120).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
        (F.col("id") * 2).alias("n"),
        F.lit("padding").alias("extra"),
    )
    df.repartition(4).write.parquet(src)
    df.where("lang = 'en'").select("id", "lang", "n") \
        .repartition(2).write.parquet(dst)

    # entrants (de -> en for id % 5 == 1) and leavers (en -> fr for
    # id % 9 == 0); the predicate uses 'extra', which the replica drops
    update_where(
        spark, src, (F.col("id") % 5 == 1) & (F.col("lang") == "de"),
        {"lang": F.lit("en")}, change_feed=True,
    )
    update_where(
        spark, src, (F.col("id") % 9 == 0) & (F.col("lang") == "en"),
        {"lang": F.lit("fr")}, change_feed=True,
    )
    kw = dict(on=["id"], where="lang = 'en' AND extra IS NOT NULL",
              columns=["id", "lang", "n"])
    r = sync_from_change_feed(spark, src, dst, **kw)
    assert r["applied_versions"] == [1, 2]

    expected = sorted(
        (row.id, row.lang, row.n)
        for row in spark.read.parquet(src)
        .where("lang = 'en'").select("id", "lang", "n").collect()
    )
    got = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert got == expected

    # state loss -> full replay -> same replica
    os.remove(os.path.join(dst, "_sync_state.json"))
    r = sync_from_change_feed(spark, src, dst, **kw)
    assert r["applied_versions"] == [1, 2]
    got = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert got == expected

    with _pytest.raises(ValueError, match="must include the keys"):
        sync_from_change_feed(
            spark, src, dst, on=["id"], columns=["lang", "n"]
        )


def test_sync_nets_slice_to_one_merge_pair(spark, tmp_path):
    """A lagging replica catching up on 5 feed versions with
    OVERLAPPING keys (update→delete→re-insert→update→delete chains)
    pays AT MOST one delete-merge + one upsert-merge — and the netted
    result equals sequential per-version application, whose final state
    for an unfiltered replica is exactly the upstream (VERDICT r12
    task 4: last-writer-wins per key == sequential apply)."""
    from iot_sensor_data_pipeline_spark.sources import mutations as M
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        sync_from_change_feed,
        update_where,
        verify_replica,
    )

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    base = spark.range(0, 100).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id").cast("string"))
        .alias("val"),
    )
    base.repartition(4).write.parquet(src)
    base.repartition(2).write.parquet(dst)

    # 5 versions, deliberately overlapping: id 0 is updated, deleted,
    # re-inserted, and updated again; ids 5-9 are deleted then re-born
    update_where(spark, src, "id < 10", {"val": F.lit("u1")},
                 change_feed=True)                                   # v1
    delete_where(spark, src, "id >= 5 AND id < 15", change_feed=True)  # v2
    reborn = spark.createDataFrame(
        [(i, f"reborn{i}") for i in range(5, 10)], "id long, val string"
    )
    merge_into(spark, src, reborn, on=["id"], change_feed=True)      # v3
    update_where(spark, src, "id = 0 OR id = 7", {"val": F.lit("u4")},
                 change_feed=True)                                   # v4
    delete_where(spark, src, "id = 0", change_feed=True)             # v5

    calls = []
    real_merge = M.merge_into

    def counting_merge(*a, **kw):
        calls.append(kw.get("when_matched", "update"))
        return real_merge(*a, **kw)

    M.merge_into, orig = counting_merge, real_merge
    try:
        res = sync_from_change_feed(spark, src, dst, on=["id"])
    finally:
        M.merge_into = orig
    assert res["applied_versions"] == [1, 2, 3, 4, 5]
    assert res["n_merges"] == 2 and len(calls) == 2  # the whole slice
    assert sorted(calls) == ["delete", "update"]
    assert verify_replica(spark, src, dst)["in_sync"]
    # spot-check the chains' last-writer state
    got = {r.id: r.val for r in spark.read.parquet(dst).collect()}
    assert 0 not in got and 10 not in got and 14 not in got
    assert got[7] == "u4" and got[5] == "reborn5" and got[1] == "u1"
    assert got[50] == "v50"
    # steady state: no merge at all
    res2 = sync_from_change_feed(spark, src, dst, on=["id"])
    assert res2["applied_versions"] == [] and res2["n_merges"] == 0


def test_sync_follows_upstream_schema_evolution(spark, tmp_path):
    """An upstream that widened additively mid-slice syncs into the
    replica with allow_new_columns=True: the replica gains the column,
    keys whose newest image predates the evolution land it as NULL
    (their true post-evolution upstream state), and the checksum over
    the shared columns agrees end to end."""
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        sync_from_change_feed,
        update_where,
        verify_replica,
    )

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    base = spark.range(0, 60).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id").cast("string"))
        .alias("val"),
    )
    base.repartition(3).write.parquet(src)
    base.repartition(2).write.parquet(dst)

    # v1: plain update (pre-evolution image, no 'tier' column)
    update_where(spark, src, "id < 5", {"val": F.lit("u1")},
                 change_feed=True)
    # v2: the widening merge — only id 10/11 gain a tier
    evo = spark.createDataFrame(
        [(10, "v10", "gold"), (11, "v11", "silver")],
        "id long, val string, tier string",
    )
    merge_into(spark, src, evo, on=["id"], allow_new_columns=True,
               change_feed=True)

    # without the opt-in the sync fails loudly (replica lacks 'tier')
    with pytest.raises(ValueError, match="allow_new_columns"):
        sync_from_change_feed(spark, src, dst, on=["id"])
    res = sync_from_change_feed(spark, src, dst, on=["id"],
                                allow_new_columns=True)
    assert res["applied_versions"] == [1, 2] and res["n_merges"] <= 2
    got = {
        r.id: (r.val, r.tier)
        for r in spark.read.option("mergeSchema", "true")
        .parquet(dst).collect()
    }
    assert got[10] == ("v10", "gold") and got[11] == ("v11", "silver")
    assert got[0] == ("u1", None)  # pre-evolution newest image: NULL tier
    assert got[50] == ("v50", None)  # untouched: NULL through union read
    assert verify_replica(spark, src, dst)["in_sync"]


def test_read_table_as_of_reconstructs_every_version(spark, tmp_path):
    """Feed-based time travel: as-of each version equals a snapshot
    taken at that moment — through a delete, a key-changing update,
    and a merge (update + insert arms); version 0 is the original
    table; the newest version is the current table; an expired slice
    raises instead of reconstructing partially."""
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        expire_change_feed,
        read_table_as_of,
        sync_from_change_feed,  # noqa: F401 — sibling import sanity
        update_where,
    )
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        merge_into as _merge,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 150).select(
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("tag"),
    )
    df.repartition(4).write.parquet(path)

    def snap():
        return sorted(
            map(tuple, spark.read.parquet(path)
                .select("id", "v", "tag").collect())
        )

    snaps = {0: snap()}
    delete_where(spark, path, F.col("v") < 2, change_feed=True)
    snaps[1] = snap()
    # key-changing update: ids shift by 100000 (old key exits, new
    # key is born) plus a value tweak
    update_where(
        spark, path, F.col("id") % 11 == 3,
        {"id": F.col("id") + 100_000, "v": F.col("v") + 0.5},
        change_feed=True,
    )
    snaps[2] = snap()
    src = spark.range(0, 10).select(
        (F.col("id") + 500_000).alias("id"),
        F.lit(9.0).alias("v"), F.lit("new").alias("tag"),
    ).unionByName(
        spark.range(0, 150).where("id % 13 = 1").select(
            F.col("id"), F.lit(-1.0).alias("v"), F.lit("upd").alias("tag")
        )
    )
    _merge(spark, path, src, on=["id"], change_feed=True)
    snaps[3] = snap()

    for v, expected in snaps.items():
        got = sorted(
            map(tuple, read_table_as_of(spark, path, ["id"], v)
                .select("id", "v", "tag").collect())
        )
        assert got == expected, f"as_of({v}) mismatch"

    expire_change_feed(spark, path, keep_versions=1)
    with pytest.raises(ValueError, match="re-baseline"):
        read_table_as_of(spark, path, ["id"], 0)
    # the newest retained slice still reconstructs
    got = sorted(
        map(tuple, read_table_as_of(spark, path, ["id"], 2)
            .select("id", "v", "tag").collect())
    )
    assert got == snaps[2]


def test_expire_change_feed_consumer_clamp(spark, tmp_path):
    """Consumer-aware expiry: the clamp keeps every version the
    slowest registered consumer (replica cursor or MV cursor) still
    needs, a caught-up consumer releases them, and an unknown consumer
    path refuses loudly."""
    from iot_sensor_data_pipeline_spark.sources.matview import (
        create_agg_view,
        refresh_agg_view,
    )
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        expire_change_feed,
        sync_from_change_feed,
    )

    src = str(tmp_path / "s")
    dst = str(tmp_path / "d")
    mv = str(tmp_path / "mv")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 9).cast("double").alias("v"),
    )
    df.repartition(3).write.parquet(src)
    df.repartition(2).write.parquet(dst)
    create_agg_view(spark, src, mv, ["g"], "v")
    for lo in (0, 10, 20, 30):
        delete_where(
            spark, src, (F.col("v") * 10 + F.col("id") * 0).isNotNull()
            & (F.col("id") >= lo) & (F.col("id") < lo + 3),
            change_feed=True,
        )
    # replica applies versions 1-2 only (feed has 4)
    sync_from_change_feed(spark, src, dst, on=["id"])
    # ... actually applies all; rewind by applying MV to v0 only: the
    # MV has NOT refreshed (cursor 0) -> it is the slowest consumer
    r = expire_change_feed(spark, src, keep_versions=1, consumers=[dst, mv])
    assert r["n_expired"] == 0
    assert r["clamped_by"]["consumer"] == mv
    assert r["clamped_by"]["cursor"] == 0
    # unknown consumer path refuses loudly (while expiry is live)
    with pytest.raises(ValueError, match="does not exist"):
        expire_change_feed(
            spark, src, keep_versions=1,
            consumers=[str(tmp_path / "nothing")],
        )
    # MV catches up -> the clamp releases everything but keep_versions
    refresh_agg_view(spark, src, mv)
    r = expire_change_feed(spark, src, keep_versions=1, consumers=[dst, mv])
    assert r["n_expired"] == 3 and r["oldest_retained"] == 4
    assert r["clamped_by"] is None
    # both consumers still read/refresh cleanly after expiry
    assert refresh_agg_view(spark, src, mv)["status"] == "noop"
    sync_from_change_feed(spark, src, dst, on=["id"])
