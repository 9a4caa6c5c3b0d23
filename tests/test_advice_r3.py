"""Round-3 ADVICE regressions: payload×scalable-chunking key resolution,
dedup-key consistency across the three batching paths, fail-closed
signature_verify, and one read-back layout for empty vs non-empty windows."""

from __future__ import annotations

import base64

import pandas as pd
import pytest
from pyspark.sql import functions as F

from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
    TURNS_WITH_PAYLOAD_SCHEMA,
)
from exposure_notifications_private_analytics_ingestion_spark.operators.attestation import (
    signature_verify_attestation,
)
from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
    IngestionOptions,
    process_turns,
    run_ingestion,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import (
    generate_turns,
    generate_turns_with_payload,
    write_turns_table,
)

JAN = 1704067200
WIN = IngestionOptions(window_start_s=JAN, duration_s=48 * 3600, batch_size=10)


@pytest.fixture(scope="module")
def payload_with_prio_dup(spark):
    """Valid payload turns plus one duplicate (conv_id, turn_idx) row whose
    prio_params and encrypted_shares payloads differ — the case where
    dedup-by-chunk-key and dedup-by-(conv_id, turn_idx) diverge, and where
    the winner decides which payload is signed."""
    pdf = generate_turns_with_payload(n_convs=4, seed=11)
    dup = pdf.iloc[[0]].copy()
    dup["prio_params"] = [
        {**dup.iloc[0]["prio_params"], "epsilon": 9.9999}
    ]
    dup["encrypted_shares"] = [
        [
            {**share, "payload": base64.b64encode(f"dup|{d}".encode()).decode()}
            for share, d in zip(dup.iloc[0]["encrypted_shares"], ("pha", "fac"))
        ]
    ]
    pdf2 = pd.concat([pdf, dup], ignore_index=True)
    return spark.createDataFrame(pdf2, schema=TURNS_WITH_PAYLOAD_SCHEMA), pdf


@pytest.mark.parametrize(
    "opts",
    [
        IngestionOptions(window_start_s=JAN, duration_s=48 * 3600, batch_size=10),
        IngestionOptions(
            window_start_s=JAN,
            duration_s=48 * 3600,
            batch_size=10,
            scalable_chunking=True,
        ),
        IngestionOptions(
            window_start_s=JAN,
            duration_s=48 * 3600,
            batch_size=10,
            attestation="signature_presence",
        ),
    ],
    ids=["fused", "scalable", "attested"],
)
def test_payload_dedup_consistent_across_paths(payload_with_prio_dup, opts):
    # ADVICE r3 #1 (the scalable case used to raise
    # UNRESOLVED_USING_COLUMN_FOR_JOIN on 'prio_params.bins') and #2 (the
    # fused case used to keep BOTH prio-divergent duplicates).
    df, originals = payload_with_prio_dup
    packets, headers, _ = process_turns(df, opts)
    pk = packets.toPandas()
    # exactly one survivor per (conv_id, turn_idx) per destination
    assert len(pk) == 2 * len(originals)
    # and every path keeps the same one: the original row, whose prio_params
    # (smaller epsilon) order before the duplicate's, so all three emit the
    # same payload per (uuid, destination)
    want = {
        (f"{r.conv_id}#{r.turn_idx}", dest): base64.b64decode(share["payload"])
        for r in originals.itertuples()
        for dest, share in zip(("pha", "facilitator"), r.encrypted_shares)
    }
    got = {(r.uuid, r.destination): bytes(r.encrypted_payload) for r in pk.itertuples()}
    assert got == want
    assert pk.groupby(["conv_id", "turn_idx", "destination"]).size().max() == 1
    # no helper columns leak into the packet schema
    assert not any(c.startswith("_k_") for c in pk.columns)
    # prio params still reach the headers from the data, not constants
    h = headers.toPandas()
    assert set(h["bins"]) == {2}


def test_prio_params_still_split_batches(spark):
    # K1 parity: two docs sharing conv_id but different prio_params must not
    # share a batch_id (IngestionPipeline.java:78-88).
    pdf = generate_turns_with_payload(n_convs=1, seed=3)
    pdf = pdf.iloc[:4].copy()
    prio = [dict(p) for p in pdf["prio_params"]]
    prio[2]["bins"] = 4
    prio[3]["bins"] = 4
    pdf["prio_params"] = prio
    df = spark.createDataFrame(pdf, schema=TURNS_WITH_PAYLOAD_SCHEMA)
    packets, _, _ = process_turns(df, WIN)
    got = packets.select("batch_id", "bins").distinct().toPandas()
    assert got.groupby("bins")["batch_id"].nunique().eq(1).all()
    assert got["batch_id"].nunique() == 2


def test_signature_verify_fails_closed_without_signature_columns(spark):
    # ADVICE r3 #3: requesting cryptographic attestation on a frame that
    # cannot carry a signature must raise, not pass everything through.
    pdf = generate_turns(n_convs=2, seed=1, dup_frac=0.0)
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="refusing to fail open"):
        signature_verify_attestation(spark, "turns", df.columns)


def test_empty_and_nonempty_windows_share_one_readback_schema(spark, tmp_path):
    # ADVICE r3 #4: empty-window runs used to write unpartitioned frames with
    # a different column order/typing than the partitioned non-empty layout.
    pdf = generate_turns(n_convs=6, seed=5, dup_frac=0.0)
    inp = write_turns_table(spark, pdf, str(tmp_path / "turns"))
    run_ingestion(spark, inp, str(tmp_path / "full"), WIN)
    empty_opts = IngestionOptions(
        window_start_s=JAN + 10 * 365 * 24 * 3600, duration_s=3600, batch_size=10
    )
    run_ingestion(spark, inp, str(tmp_path / "empty"), empty_opts)
    for leg in ("packets", "batch_headers", "signatures"):
        full = spark.read.parquet(str(tmp_path / "full" / leg))
        empty = spark.read.parquet(str(tmp_path / "empty" / leg))
        assert empty.count() == 0
        assert [(f.name, f.dataType) for f in empty.schema.fields] == [
            (f.name, f.dataType) for f in full.schema.fields
        ], leg
        # unioning across runs (the reader pattern the layout exists for)
        assert full.unionByName(empty).count() == full.count()
