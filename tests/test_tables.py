"""TableProvider: same engine semantics under Iceberg (when the runtime jar
is present) and the parquet fallback (this sandbox). The suite runs the
identical assertions against whichever provider the probe selects, so
providing a real jar via SPARK_GRAFT_ICEBERG_JAR exercises the Iceberg path
with zero test changes."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from exposure_notifications_private_analytics_ingestion_spark.plans.tables import (
    TableProvider,
    iceberg_available,
    iceberg_jar,
)
from exposure_notifications_private_analytics_ingestion_spark.session import (
    iceberg_confs,
)


@pytest.fixture()
def provider(spark):
    wh = tempfile.mkdtemp(prefix="enpa-tables-")
    yield TableProvider(spark, wh)
    shutil.rmtree(wh, ignore_errors=True)


def test_probe_is_honest(spark):
    """The probe reports what the environment actually has: with no jar on
    disk there are no catalog confs and the provider must say so loudly."""
    if iceberg_jar() is None:
        assert iceberg_confs() == {}
        assert iceberg_available(spark) is False
        assert TableProvider(spark, "/tmp/x").provider_name == "parquet-fallback"
    else:  # pragma: no cover - only on hosts with the runtime jar installed
        assert iceberg_available(spark) is True
        assert TableProvider(spark, "/tmp/x").provider_name == "iceberg"


def test_replace_read_roundtrip(spark, provider):
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    provider.replace(df, "t1")
    assert provider.read("t1").count() == 10
    # replace is idempotent full refresh, not append
    provider.replace(df, "t1")
    assert provider.read("t1").count() == 10


def test_append_accumulates(spark, provider):
    df = spark.range(5).select(F.col("id"))
    provider.replace(df, "t2")
    provider.append(df, "t2")
    assert provider.read("t2").count() == 10


def test_delete_where(spark, provider):
    df = spark.range(100).select(F.col("id"))
    provider.replace(df, "t3")
    provider.delete_where("t3", "id >= 50")
    out = provider.read("t3")
    assert out.count() == 50
    assert out.agg(F.max("id")).collect()[0][0] == 49


def _hours_table(spark):
    return spark.createDataFrame(
        [(f"c{i:03d}", t, f"text-{i}-{t}", i % 3) for i in range(60) for t in range(2)],
        "conv_id string, turn_idx int, text string, hour int",
    )


def test_merge_upsert_updates_and_inserts(spark, provider):
    provider.replace(_hours_table(spark), "t4")
    src = spark.createDataFrame(
        [("c000", 0, "EDITED", 0), ("c999", 0, "NEW", 1)],
        "conv_id string, turn_idx int, text string, hour int",
    )
    provider.merge_upsert(src, "t4", keys=["conv_id", "turn_idx"])
    out = provider.read("t4")
    assert out.count() == 121  # 120 original + 1 insert
    assert out.filter("conv_id='c000' and turn_idx=0").collect()[0]["text"] == "EDITED"
    assert out.filter("conv_id='c999'").count() == 1
    # idempotent: re-applying the same upsert changes nothing
    provider.merge_upsert(src, "t4", keys=["conv_id", "turn_idx"])
    assert provider.read("t4").count() == 121


def test_merge_upsert_seq_col_latest_wins(spark, provider):
    # two CDC versions of one key in a single source batch
    src = spark.createDataFrame(
        [("c001", 0, "v1", 0, 1), ("c001", 0, "v2", 0, 2)],
        "conv_id string, turn_idx int, text string, hour int, seq int",
    )
    provider.replace(_hours_table(spark).withColumn("seq", F.lit(0)), "t5")
    provider.merge_upsert(src, "t5", keys=["conv_id", "turn_idx"], seq_col="seq")
    row = provider.read("t5").filter("conv_id='c001' and turn_idx=0").collect()
    assert len(row) == 1 and row[0]["text"] == "v2"


def test_merge_upsert_stale_seq_does_not_revert(spark, provider):
    """A re-delivered row whose seq is LOWER than the stored one must not
    overwrite it (cross-batch staleness guard); an equal seq — the
    replay-of-identical-rows case — still applies, source wins ties."""
    provider.replace(_hours_table(spark).withColumn("seq", F.lit(5)), "t5s")
    stale = spark.createDataFrame(
        [("c000", 0, "STALE", 0, 1), ("c998", 0, "NEW", 1, 1)],
        "conv_id string, turn_idx int, text string, hour int, seq int",
    )
    provider.merge_upsert(stale, "t5s", keys=["conv_id", "turn_idx"], seq_col="seq")
    out = provider.read("t5s")
    kept = out.filter("conv_id='c000' and turn_idx=0").collect()
    assert len(kept) == 1 and kept[0]["text"] == "text-0-0" and kept[0]["seq"] == 5
    # the unmatched insert still lands even though its seq is low
    assert out.filter("conv_id='c998'").count() == 1
    # equal seq: update applies (idempotent-replay tiebreak goes to source)
    tie = spark.createDataFrame(
        [("c000", 0, "TIE", 0, 5)],
        "conv_id string, turn_idx int, text string, hour int, seq int",
    )
    provider.merge_upsert(tie, "t5s", keys=["conv_id", "turn_idx"], seq_col="seq")
    row = provider.read("t5s").filter("conv_id='c000' and turn_idx=0").collect()
    assert len(row) == 1 and row[0]["text"] == "TIE"


def test_merge_upsert_stale_seq_partition_scoped(spark, provider):
    """Same staleness guard through the partition-scoped COW path."""
    _hours_table(spark).withColumn("seq", F.lit(5)).write.mode(
        "overwrite"
    ).partitionBy("hour").parquet(provider._ident("t5p"))
    # partition values match the stored rows' (c000 -> hour=0, c001 -> hour=1):
    # partition scoping assumes partition stability under update
    stale = spark.createDataFrame(
        [("c000", 0, "STALE", 0, 1), ("c001", 0, "FRESH", 1, 9)],
        "conv_id string, turn_idx int, text string, hour int, seq int",
    )
    provider.merge_upsert(
        stale, "t5p", keys=["conv_id", "turn_idx"], partition_col="hour", seq_col="seq"
    )
    out = provider.read("t5p")
    assert out.filter("conv_id='c000' and turn_idx=0").collect()[0]["text"] == "text-0-0"
    assert out.filter("conv_id='c001' and turn_idx=0").collect()[0]["text"] == "FRESH"
    assert out.count() == 120  # no duplicates introduced by the guard


def test_merge_sql_seq_guard():
    from exposure_notifications_private_analytics_ingestion_spark.plans.tables import (
        _merge_sql,
    )

    guarded = _merge_sql("cat.db.t", "src", ["conv_id", "turn_idx"], "seq")
    assert "WHEN MATCHED AND s.seq >= t.seq THEN UPDATE SET *" in guarded
    assert "t.conv_id <=> s.conv_id AND t.turn_idx <=> s.turn_idx" in guarded
    unguarded = _merge_sql("cat.db.t", "src", ["conv_id"], None)
    assert "WHEN MATCHED THEN UPDATE SET *" in unguarded
    assert "WHEN NOT MATCHED THEN INSERT *" in unguarded


def test_merge_upsert_partition_scoped_rewrite(spark, provider):
    import os

    df = _hours_table(spark)
    # lay the table out hive-partitioned by hour first
    path = provider._ident("t6")
    df.write.mode("overwrite").partitionBy("hour").parquet(path)
    untouched = sorted(os.listdir(f"{path}/hour=2"))
    before = {f: os.path.getmtime(f"{path}/hour=2/{f}") for f in untouched}

    src = spark.createDataFrame(
        [("c000", 0, "EDITED", 0)],
        "conv_id string, turn_idx int, text string, hour int",
    )
    provider.merge_upsert(
        src, "t6", keys=["conv_id", "turn_idx"], partition_col="hour"
    )
    out = provider.read("t6")
    assert out.count() == 120
    assert out.filter("conv_id='c000' and turn_idx=0").collect()[0]["text"] == "EDITED"
    # scoped copy-on-write: the untouched partition's files are bit-for-bit
    # the same files (same names, same mtimes) — only hour=0 was rewritten
    after = {
        f: os.path.getmtime(f"{path}/hour=2/{f}")
        for f in sorted(os.listdir(f"{path}/hour=2"))
    }
    assert after == before


def test_merge_upsert_converts_unpartitioned_layout_once(spark, provider):
    import os

    df = _hours_table(spark)
    provider.replace(df, "t7")  # unpartitioned layout
    src = spark.createDataFrame(
        [("c000", 0, "EDITED", 0)],
        "conv_id string, turn_idx int, text string, hour int",
    )
    provider.merge_upsert(src, "t7", keys=["conv_id", "turn_idx"], partition_col="hour")
    out = provider.read("t7")
    # full COW conversion: no duplicated rows from stale root files
    assert out.count() == 120
    path = provider._ident("t7")
    assert any(d.startswith("hour=") for d in os.listdir(path))


def test_merge_upsert_rejects_schema_mismatch(spark, provider):
    provider.replace(_hours_table(spark), "t8")
    narrow = spark.createDataFrame(
        [("c000", 0, 0)], "conv_id string, turn_idx int, hour int"
    )
    with pytest.raises(ValueError, match="text"):
        provider.merge_upsert(narrow, "t8", keys=["conv_id", "turn_idx"])
    # table untouched by the refused upsert
    assert provider.read("t8").count() == 120


def test_merge_upsert_null_seq_keeps_target_no_duplicate(spark, provider):
    """The COW mirror of Iceberg's `WHEN MATCHED AND s.seq >= t.seq`: a NULL
    comparison means NO update — a matched source row with NULL seq must
    neither replace the stored row NOR insert a duplicate key, and a NULL
    STORED seq is likewise never beaten. Unmatched NULL-seq rows still
    insert."""
    provider.replace(_hours_table(spark).withColumn("seq", F.lit(5)), "t5n")
    src = spark.createDataFrame(
        [("c000", 0, "NULLSEQ", 0, None), ("c997", 0, "INS", 1, None)],
        "conv_id string, turn_idx int, text string, hour int, seq int",
    )
    provider.merge_upsert(src, "t5n", keys=["conv_id", "turn_idx"], seq_col="seq")
    out = provider.read("t5n")
    hit = out.filter("conv_id='c000' and turn_idx=0").collect()
    assert len(hit) == 1, "NULL-seq matched source must not duplicate the key"
    assert hit[0]["text"] == "text-0-0" and hit[0]["seq"] == 5
    ins = out.filter("conv_id='c997'").collect()
    assert len(ins) == 1 and ins[0]["text"] == "INS"
    # NULL stored seq: comparison is NULL -> target survives, no duplicate
    provider.replace(
        _hours_table(spark).withColumn("seq", F.lit(None).cast("int")), "t5n2"
    )
    src2 = spark.createDataFrame(
        [("c000", 0, "V9", 0, 9)],
        "conv_id string, turn_idx int, text string, hour int, seq int",
    )
    provider.merge_upsert(src2, "t5n2", keys=["conv_id", "turn_idx"], seq_col="seq")
    row = provider.read("t5n2").filter("conv_id='c000' and turn_idx=0").collect()
    assert len(row) == 1 and row[0]["text"] == "text-0-0"


def test_seq_merge_with_source_derived_from_target(spark, tmp_path):
    """The correction batch is computed FROM a read of the target table —
    the classic backfill shape. The seq-path COW overwrite truncates the
    very files such a source's lazy plan would re-read, so merge_upsert
    must sever the source lineage too; without that this test dies with
    FAILED_READ_FILE or silently corrupts."""
    tp = TableProvider(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], ["k", "v", "seq"]
    )
    tp.replace(base, "t")
    # source derived from the target itself, NOT materialized by the caller
    src = (
        tp.read("t")
        .filter(F.col("k") <= 2)
        .withColumn("v", F.concat(F.col("v"), F.lit("-fixed")))
        .withColumn("seq", F.col("seq") + 10)
    )
    tp.merge_upsert(src, "t", keys=["k"], seq_col="seq")
    rows = {r["k"]: (r["v"], r["seq"]) for r in tp.read("t").collect()}
    assert rows == {1: ("a-fixed", 20), 2: ("b-fixed", 20), 3: ("c", 10)}
    # and replaying the identical (now-stale vs the table) correction is a
    # no-op, not a duplicate-key insert
    tp.merge_upsert(
        spark.createDataFrame([(1, "stale", 15)], ["k", "v", "seq"]),
        "t", keys=["k"], seq_col="seq",
    )
    rows = {r["k"]: (r["v"], r["seq"]) for r in tp.read("t").collect()}
    assert rows[1] == ("a-fixed", 20) and len(rows) == 3
