"""CLI surface: the three mains (ingest / stream / delete) drive the same
plans as the library API — including the round-3 flags (--signing-key-pem,
--mode/--session-gap, --bucket-by).

Reference mains: ``pipeline/IngestionPipeline.java:124-162`` and
``pipeline/DeletionPipeline.java:40-89``.
"""

from __future__ import annotations

import json

import pytest

from exposure_notifications_private_analytics_ingestion_spark import cli
from exposure_notifications_private_analytics_ingestion_spark.functions.signing import (
    generate_signing_key_pem,
    verify_header_signature,
)
from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
    TURNS_SCHEMA,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import (
    generate_turns,
    write_turns_table,
)

JAN = 1704067200


@pytest.fixture(scope="module")
def turns_path(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli-turns")
    pdf = generate_turns(n_convs=20, seed=3, hours=4)
    spark.createDataFrame(pdf, schema=TURNS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(root / "turns"))
    return str(root / "turns"), len(pdf)


def test_cli_ingest_with_asymmetric_signing(spark, turns_path, tmp_path, capsys):
    path, _n = turns_path
    pem_file = tmp_path / "key.pem"
    pem_file.write_bytes(generate_signing_key_pem("cli-test-key"))
    out = str(tmp_path / "out")

    rc = cli.main(
        ["ingest", "--input", path, "--output", out,
         "--window-start", str(JAN), "--duration", str(48 * 3600),
         "--batch-size", "25", "--signing-key-pem", str(pem_file)]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["window_start"] == JAN

    pub = json.load(open(f"{out}/signing_key.json"))
    assert pub["key_identifier"] == "local-ecdsa-p256-v1"

    headers = spark.read.parquet(f"{out}/batch_headers")
    sigs = spark.read.parquet(f"{out}/signatures")
    joined = (
        headers.select("batch_id", "destination", "packet_file_digest")
        .join(sigs, ["batch_id", "destination"])
        .limit(5)
        .collect()
    )
    assert joined, "no signed headers written"
    for r in joined:
        assert verify_header_signature(
            r["packet_file_digest"],
            r["batch_header_signature"],
            pub["public_key_der_b64"],
        )
        # tamper: flip the first digest nibble -> must fail verification
        bad = ("0" if r["packet_file_digest"][0] != "0" else "1") + r[
            "packet_file_digest"
        ][1:]
        assert not verify_header_signature(
            bad, r["batch_header_signature"], pub["public_key_der_b64"]
        )


def test_cli_ingest_prints_run_counters_apart_from_invalid_rows(spark, tmp_path, capsys):
    """``invalid_counters`` holds invalid-row reasons only; the run's own
    counters are top-level fields."""
    pdf = generate_turns(n_convs=8, seed=4, hours=1, dup_frac=0.0)
    pdf.loc[pdf.index[:3], "text"] = None
    inp = str(tmp_path / "turns")
    spark.createDataFrame(pdf, schema=TURNS_SCHEMA).write.parquet(inp)
    out = str(tmp_path / "out")

    rc = cli.main(
        ["ingest", "--input", inp, "--output", out,
         "--window-start", str(JAN), "--duration", str(48 * 3600),
         "--batch-size", "10"]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["invalid_counters"] == {"missing_payload": 3}
    assert int(res["packets_written"]) == spark.read.parquet(f"{out}/packets").count() > 0
    assert int(res["batches"]) == (
        spark.read.parquet(f"{out}/batch_headers").select("batch_id").distinct().count()
    )
    assert res["min_ts"] <= res["max_ts"]


def test_cli_stream_bucketed(spark, turns_path, tmp_path):
    path, n = turns_path
    out = str(tmp_path / "sout")
    ck = str(tmp_path / "ck")
    rc = cli.main(
        ["stream", "--input", path, "--output", out, "--checkpoint", ck,
         "--batch-size", "50", "--window", "3600", "--bucket-by", "8"]
    )
    assert rc == 0
    got = spark.read.parquet(f"{out}/packets")
    # availableNow drains the whole input; every in-watermark turn lands
    # exactly once in a closed batch (×2 packet fan-out)
    assert 0 < got.count() <= 2 * n
    assert got.select("batch_id").distinct().count() > 0


def test_cli_delete(spark, tmp_path, capsys):
    table = str(tmp_path / "table")
    pdf = generate_turns(n_convs=10, seed=5, hours=6)
    write_turns_table(spark, pdf, table)
    # cutoff = start - 2*duration: pick start far in the future so every
    # hour partition is expired
    rc = cli.main(
        ["delete", "--table", table, "--window-start", str(JAN + 10 * 86400),
         "--duration", "43200"]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(res["deleted_partitions"]) > 0


def test_cli_catchup_and_compact(spark, tmp_path, capsys):
    """catchup processes all settled hours with a crash-safe state file and
    is a no-op on rerun; compact then rewrites the oversplit output."""
    table = str(tmp_path / "cturns")
    pdf = generate_turns(n_convs=60, seed=11, hours=4)
    write_turns_table(spark, pdf, table)
    out = str(tmp_path / "cout")
    state = str(tmp_path / "state.json")

    rc = cli.main(
        ["catchup", "--input", table, "--output", out, "--state", state,
         "--batch-size", "40"]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(res["processed_hours"]) >= 3
    assert spark.read.parquet(f"{out}/packets").count() > 0

    rc = cli.main(
        ["catchup", "--input", table, "--output", out, "--state", state]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["processed_hours"] == []

    rc = cli.main(["compact", "--table", f"{out}/packets"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["partitions"] > 0
    # per-window output at this tiny scale is many small files -> rewritten
    assert len(res["rewritten"]) > 0


def test_cli_profile(spark, turns_path, tmp_path):
    """profile runs the windowed HLL cardinality stream to parquet."""
    table, _n = turns_path
    out, ck = str(tmp_path / "prof"), str(tmp_path / "pck")
    rc = cli.main(
        ["profile", "--input", table, "--output", out, "--checkpoint", ck,
         "--window", "3600", "--watermark", "10 minutes"]
    )
    assert rc == 0
    prof = spark.read.parquet(out)
    assert prof.count() > 0
    assert {"window_start", "role", "hll", "distinct_convs"} <= set(prof.columns)


def test_cli_cep(spark, turns_path, tmp_path):
    """cep runs streaming pattern detection over the turn stream: per-conv
    episodes matched for a user-turn→tool-run→assistant-reply shape."""
    table, _n = turns_path
    out, ck = str(tmp_path / "cep"), str(tmp_path / "cck")
    rc = cli.main(
        ["cep", "--input", table, "--output", out, "--checkpoint", ck,
         "--symbols", '{"user":"u","assistant":"a","tool":"t","system":"s"}',
         "--pattern", "ut*a", "--gap", "1800", "--watermark", "10 minutes"]
    )
    assert rc == 0
    eps = spark.read.parquet(out)
    assert eps.count() > 0
    assert {"key", "episode_start_ms", "n_matches", "first_match"} <= set(eps.columns)
    assert eps.filter("n_matches > 0").count() > 0


def test_cli_upsert(spark, tmp_path):
    """upsert merges a CDC parquet stream into a warehouse table."""
    wh = str(tmp_path / "wh")
    from exposure_notifications_private_analytics_ingestion_spark.plans.tables import (
        TableProvider,
    )

    prov = TableProvider(spark, wh)
    schema = "conv_id string, turn_idx int, text string, seq int"
    prov.replace(spark.createDataFrame([("c1", 0, "orig", 0)], schema), "turns")
    spark.createDataFrame(
        [("c1", 0, "edited", 1), ("c2", 0, "new", 1)], schema
    ).coalesce(1).write.mode("append").parquet(str(tmp_path / "cdc"))

    rc = cli.main(
        ["upsert", "--input", str(tmp_path / "cdc"), "--warehouse", wh,
         "--table", "turns", "--keys", "conv_id,turn_idx",
         "--seq-col", "seq", "--checkpoint", str(tmp_path / "ck")]
    )
    assert rc == 0
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in prov.read("turns").collect()
    }
    assert got == {("c1", 0): "edited", ("c2", 0): "new"}
