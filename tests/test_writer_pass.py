"""run_ingestion's single writer pass: its legs and counters against the
DataFrame definitions they replace (build_headers, build_signatures,
sign_headers' verifier, write_batch_containers, split_valid), empty windows
that leave other windows alone, a re-run failing in the writer or in the
commit that leaves the previous output as it was, the local output root,
an atomic signing_key.json, the number of Spark jobs and py4j calls one
window costs, and the writer riding the core's exchange (one by batch id on
the hot-key path)."""

from __future__ import annotations

import base64
import errno
import glob
import hashlib
import json
import os

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from exposure_notifications_private_analytics_ingestion_spark.functions.avro_codec import (
    group_runs,
    write_batch_containers,
)
from exposure_notifications_private_analytics_ingestion_spark.functions.signing import (
    generate_signing_key_pem,
    verify_header_signature,
)
from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
    TURNS_WITH_PAYLOAD_SCHEMA,
)
from exposure_notifications_private_analytics_ingestion_spark.model.validate import split_valid
from exposure_notifications_private_analytics_ingestion_spark.plans import ingestion
from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
    IngestionOptions,
    build_headers,
    build_signatures,
    packet_file_digest,
    run_ingestion,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import (
    generate_turns,
    generate_turns_with_payload,
    invalid_fixture_rows,
    write_turns_table,
)

JAN = 1704067200
LEGS = ("packets", "batch_headers", "signatures", "avro_manifest")


def _prio_corpus(spark, path: str) -> str:
    """Valid Prio documents plus conflicting duplicates (same key, other
    payload; one with other prio_params) and every invalid class."""
    pdf = generate_turns_with_payload(n_convs=12, seed=5, hours=3)
    dup = pdf.iloc[::7].copy()
    dup["encrypted_shares"] = [
        [{**s, "payload": base64.b64encode(f"other-{i}".encode()).decode()} for s in shares]
        for i, shares in enumerate(dup["encrypted_shares"])
    ]
    params = list(dup["prio_params"])
    params[0] = {**params[0], "epsilon": 9.5}
    dup["prio_params"] = params
    pdf = pd.concat([pdf, dup, invalid_fixture_rows()], ignore_index=True)
    spark.createDataFrame(pdf, schema=TURNS_WITH_PAYLOAD_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _rows_of(df) -> list[dict]:
    rows = [r.asDict() for r in df.collect()]
    return sorted(rows, key=lambda r: json.dumps(r, sort_keys=True, default=str))


def _rows(spark, path: str) -> list[dict]:
    """A leg's rows without its window partition column, in a fixed order."""
    return _rows_of(spark.read.parquet(path).drop("window_start_s"))


@pytest.fixture(scope="module", params=["prio-ecdsa", "plain-keyed"])
def written(request, spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp(request.param)
    if request.param == "prio-ecdsa":
        inp = _prio_corpus(spark, str(tmp / "docs"))
        pem = generate_signing_key_pem("writer-pass-test")
    else:
        turns = generate_turns(n_convs=15, seed=8, hours=3)
        turns.loc[::9, "text"] = None  # missing_payload rows
        inp = write_turns_table(spark, turns, str(tmp / "turns"))
        pem = None
    opts = IngestionOptions(
        window_start_s=JAN,
        duration_s=3 * 3600,
        batch_size=6,
        emit_avro_containers=True,
        signing_key_pem=pem,
    )
    stats = run_ingestion(spark, inp, str(tmp / "out"), opts)
    return spark, str(tmp / "out"), opts, stats, inp


def test_headers_leg_equals_build_headers(written):
    spark, out, opts, stats, _ = written
    packets = spark.read.parquet(f"{out}/packets")
    ref = build_headers(packets, opts)
    got = _rows(spark, f"{out}/batch_headers")
    # the leg reads back with the types build_headers gives
    assert _types(spark.read.parquet(f"{out}/batch_headers").drop("window_start_s")) == _types(ref)
    assert len(got) > 0 and int(stats["packets_written"]) == packets.count()
    assert got == _rows_of(ref)
    # one packet_file_digest per (batch, destination), none missing
    assert {(r["batch_id"], r["destination"]) for r in got} == {
        (r["batch_id"], r["destination"])
        for r in packets.select("batch_id", "destination").distinct().collect()
    }


def test_invalid_counters_equal_split_valid(written):
    """The counters run_ingestion returns (an Observation on the scan) are
    split_valid's counters over the same hour-pruned input."""
    spark, _, opts, stats, inp = written
    df = spark.read.parquet(inp)
    if "ts_hour" in df.columns:
        df = df.filter(F.col("ts_hour").isin(ingestion._scan_hours(opts))).drop("ts_hour")
    ref = {r["invalid_reason"]: r["n"] for r in split_valid(df)[1].collect()}
    assert ref and all(n > 0 for n in ref.values())
    totals = ("packets_written", "batches", "min_ts", "max_ts")
    assert {k: v for k, v in stats.items() if k not in totals} == ref


def test_signatures_leg(written):
    spark, out, opts, _, _ = written
    headers = spark.read.parquet(f"{out}/batch_headers")
    got = _rows(spark, f"{out}/signatures")
    ref = build_signatures(headers)
    assert _types(spark.read.parquet(f"{out}/signatures").drop("window_start_s")) == _types(ref)
    if opts.signing_key_pem is None:
        assert got == _rows_of(ref)
        return
    pub = json.load(open(f"{out}/signing_key.json"))["public_key_der_b64"]
    digests = {
        (r["batch_id"], r["destination"]): r["packet_file_digest"]
        for r in headers.collect()
    }
    assert sorted((r["batch_id"], r["destination"]) for r in got) == sorted(digests)
    for r in got:
        assert r["key_identifier"] == opts.signing_key_id
        assert verify_header_signature(
            digests[(r["batch_id"], r["destination"])], r["batch_header_signature"], pub
        )


def _types(df) -> dict:
    return {f.name: f.dataType for f in df.schema.fields}


def test_containers_equal_write_batch_containers(written, tmp_path):
    spark, out, opts, _, _ = written
    manifest = spark.read.parquet(f"{out}/avro_manifest").collect()
    ref = write_batch_containers(
        spark.read.parquet(f"{out}/packets"), str(tmp_path / "ref"), opts.window_start_s
    ).collect()
    assert {(r["batch_id"], r["destination"], r["n_records"], r["file_sha256"]) for r in manifest} == {
        (r["batch_id"], r["destination"], r["n_records"], r["file_sha256"]) for r in ref
    }
    for r in manifest:
        with open(r["path"], "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == r["file_sha256"]


def test_packet_file_digest_matches_sql_on_nulls(spark):
    df = spark.createDataFrame(
        [
            ("b", "pha", "u2", b"\x00\xff", "c"),
            ("b", "pha", "u1", b"\x10", "c"),
            ("b", "pha", "u0", None, "c"),
            ("b", "pha", "u1", b"\x01", "c"),
        ],
        "batch_id string, destination string, uuid string, encrypted_payload binary, "
        "conv_id string",
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    sql = build_headers(df, IngestionOptions()).first()["packet_file_digest"]
    rows = df.collect()
    assert packet_file_digest(
        [r["uuid"] for r in rows], [r["encrypted_payload"] for r in rows]
    ) == sql


def test_group_runs_carry_a_group_across_batches():
    t = pa.table(
        {
            "batch_id": ["a", "a", "a", "b", "b", "c"],
            "destination": ["pha", "pha", "facilitator", "pha", "pha", "pha"],
            "v": [0, 1, 2, 3, 4, 5],
        }
    )
    batches = t.to_batches(max_chunksize=2)
    got = [(k, g.column("v").to_pylist()) for k, g in group_runs(batches)]
    assert got == [
        (("a", "pha"), [0, 1]),
        (("a", "facilitator"), [2]),
        (("b", "pha"), [3, 4]),
        (("c", "pha"), [5]),
    ]


def _snapshot(spark, out: str) -> dict:
    snap = {leg: _rows(spark, f"{out}/{leg}") for leg in LEGS}
    for rows in snap.values():  # ECDSA is randomized; the keyed stand-in is not
        for r in rows:
            r.pop("batch_header_signature", None)
    snap["avro"] = sorted(
        (os.path.relpath(p, out), hashlib.sha256(open(p, "rb").read()).hexdigest())
        for p in glob.glob(f"{out}/avro/**/*.batch.avro", recursive=True)
    )
    return snap


@pytest.mark.parametrize("partition_by_hour", [True, False])
def test_empty_window_keeps_earlier_windows(spark, tmp_path, partition_by_hour):
    """An empty window writes into its own window_start_s partition only. A
    fully pruned scan (hour partitions) and a scan whose rows all fall
    outside the window (no partitions) are both empty windows."""
    inp = write_turns_table(
        spark,
        generate_turns(n_convs=10, seed=4, hours=2, dup_frac=0.0),
        str(tmp_path / "turns"),
        partition_by_hour=partition_by_hour,
    )
    out = str(tmp_path / "out")
    opts = dict(duration_s=2 * 3600, batch_size=8, emit_avro_containers=True)
    run_ingestion(spark, inp, out, IngestionOptions(window_start_s=JAN, **opts))
    before = _snapshot(spark, out)
    assert all(before[leg] for leg in LEGS)
    empty = IngestionOptions(window_start_s=JAN + 30 * 86400, **opts)
    stats = run_ingestion(spark, inp, out, empty)
    assert stats == {
        "packets_written": "0",
        "batches": "0",
        "min_ts": "None",
        "max_ts": "None",
    }
    assert _snapshot(spark, out) == before
    for leg in LEGS:
        assert os.listdir(f"{out}/{leg}/window_start_s={empty.window_start_s}")


def _leftovers(out: str) -> list[str]:
    return [
        os.path.join(base, n)
        for base, dirs, files in os.walk(out)
        for n in dirs + files
        if n.endswith(".tmp") or n == "_staging"
    ]


def _rerun_setup(spark, tmp_path):
    inp = write_turns_table(
        spark, generate_turns(n_convs=12, seed=6, hours=2), str(tmp_path / "turns")
    )
    out = str(tmp_path / "out")
    opts = IngestionOptions(
        window_start_s=JAN, duration_s=2 * 3600, batch_size=8, emit_avro_containers=True
    )
    run_ingestion(spark, inp, out, opts)
    return inp, out, opts, _snapshot(spark, out)


def test_failed_rerun_leaves_previous_output(spark, tmp_path, monkeypatch):
    inp, out, opts, before = _rerun_setup(spark, tmp_path)
    last = max(r["batch_id"] for r in before["batch_headers"])
    real = ingestion.encode_container

    def failing(group, batch_id, destination):
        if batch_id == last:
            raise RuntimeError("injected writer failure")
        return real(group, batch_id, destination)

    monkeypatch.setattr(ingestion, "encode_container", failing)
    with pytest.raises(Exception, match="injected writer failure"):
        run_ingestion(spark, inp, out, opts)
    assert _snapshot(spark, out) == before
    assert _leftovers(out) == []


@pytest.mark.parametrize("fail_at", [0, 5], ids=["first-container", "later-container"])
def test_failed_commit_restores_previous_output(spark, tmp_path, monkeypatch, fail_at):
    """A move that fails mid-commit — here a container file, after all four
    legs were swapped and the previous containers moved aside, the first
    one or one after five others were moved into place — undoes the moves
    before it."""
    inp, out, opts, before = _rerun_setup(spark, tmp_path)
    real, moved, failed = os.rename, [], []

    def rename(src, dst):
        if not failed and dst.startswith(os.path.join(out, "avro", "")):
            if len(moved) == fail_at:
                failed.append(dst)
                raise OSError(errno.EXDEV, "injected cross-device rename", dst)
            moved.append(dst)
        return real(src, dst)

    monkeypatch.setattr(ingestion.os, "rename", rename)
    with pytest.raises(OSError, match="injected cross-device rename"):
        run_ingestion(spark, inp, out, opts)
    monkeypatch.undo()
    assert failed[0].endswith(".batch.avro") and len(moved) == fail_at
    assert _snapshot(spark, out) == before
    assert _leftovers(out) == []


def test_output_root_must_be_local(spark, tmp_path):
    """Tasks write the legs straight into the root: a ``file:`` URI is a
    local path, and a remote scheme fails before anything runs."""
    inp = write_turns_table(
        spark, generate_turns(n_convs=4, seed=3, hours=1), str(tmp_path / "turns")
    )
    opts = IngestionOptions(window_start_s=JAN, duration_s=3600, batch_size=8)
    for root in ("s3a://bucket/out", "hdfs://namenode/out", "file://otherhost/out"):
        with pytest.raises(ValueError, match="local or mounted output root"):
            run_ingestion(spark, inp, root, opts)
    assert not os.path.exists("s3a:") and not os.path.exists("hdfs:")
    stats = run_ingestion(spark, inp, f"file://{tmp_path}/out", opts)
    packets = spark.read.parquet(f"{tmp_path}/out/packets")
    assert int(stats["packets_written"]) == packets.count() > 0


def test_one_window_runs_at_most_three_spark_jobs(spark, tmp_path):
    """The writer pass makes a window one action (plus the input's schema
    read) whose writer rides the core's exchange; the legs, the digest, the
    signatures and the counters must not come back as passes of their own,
    nor the writer's input as a second shuffle."""
    inp = write_turns_table(
        spark, generate_turns(n_convs=10, seed=2, hours=2), str(tmp_path / "turns")
    )
    opts = IngestionOptions(
        window_start_s=JAN,
        duration_s=2 * 3600,
        batch_size=8,
        emit_avro_containers=True,
        signing_key_pem=generate_signing_key_pem("jobs-test"),
    )
    sc = spark.sparkContext
    group = f"one-window-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        stats = run_ingestion(spark, inp, str(tmp_path / "out"), opts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert int(stats["packets_written"]) > 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, f"{len(jobs)} Spark jobs for one window"


def test_warm_window_makes_few_py4j_calls(spark, tmp_path, monkeypatch):
    """The core is one SQL statement and the writer one action, so a warm
    window's driver makes at most 200 py4j calls (building the core from
    Column expressions made about 840)."""
    from py4j.java_gateway import JavaMember

    inp = _prio_corpus(spark, str(tmp_path / "docs"))
    out = str(tmp_path / "out")
    opts = IngestionOptions(
        window_start_s=JAN,
        duration_s=3 * 3600,
        batch_size=6,
        emit_avro_containers=True,
        signing_key_pem=generate_signing_key_pem("py4j-test"),
    )
    run_ingestion(spark, inp, out, opts)
    calls, real = [], JavaMember.__call__

    def counting(self, *args):
        calls.append(self.name)
        return real(self, *args)

    monkeypatch.setattr(JavaMember, "__call__", counting)
    stats = run_ingestion(spark, inp, out, opts)
    monkeypatch.undo()
    assert int(stats["packets_written"]) > 0
    assert len(calls) <= 200, f"{len(calls)} py4j calls"


def _writer_inputs(monkeypatch) -> list:
    """Records the frame of every writer pass run_ingestion runs."""
    seen, real = [], ingestion._writer_pass

    def spy(packets, *args):
        seen.append(packets)
        return real(packets, *args)

    monkeypatch.setattr(ingestion, "_writer_pass", spy)
    return seen


@pytest.mark.parametrize("attestation", [None, "signature_presence"], ids=["default", "attested"])
def test_writer_rides_the_core_exchange(spark, tmp_path, monkeypatch, attestation):
    """On the exact path each batch already sits in one partition of the
    core's shuffle by the dedup key: the writer's input has that one
    Exchange and nothing more, and one pass writes the window."""
    inp = _prio_corpus(spark, str(tmp_path / "docs"))
    seen = _writer_inputs(monkeypatch)
    opts = IngestionOptions(
        window_start_s=JAN, duration_s=3 * 3600, batch_size=6, attestation=attestation
    )
    stats = run_ingestion(spark, inp, str(tmp_path / "out"), opts)
    assert int(stats["packets_written"]) > 0 and len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_hot_key_path_writes_each_batch_in_one_pass(spark, tmp_path, monkeypatch):
    """The hash-routed chunker spreads each batch over the partitions of
    the dedup shuffle on (key, turn_idx), so its branch exchanges by batch
    id itself: one writer pass, no retry, and one header per
    (batch, destination) with build_headers' values. AQE coalescing is off
    so that the small input keeps every partition, as a large window does."""
    inp = _prio_corpus(spark, str(tmp_path / "docs"))
    seen = _writer_inputs(monkeypatch)
    opts = IngestionOptions(
        window_start_s=JAN,
        duration_s=3 * 3600,
        batch_size=6,
        scalable_chunking=True,
        emit_avro_containers=True,
    )
    out = str(tmp_path / "out")
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        run_ingestion(spark, inp, out, opts)
    finally:
        spark.conf.set(coalesce, was)
    assert len(seen) == 1
    got = _rows(spark, f"{out}/batch_headers")
    keys = [(r["batch_id"], r["destination"]) for r in got]
    assert len(keys) == len(set(keys)) > 0
    assert got == _rows_of(build_headers(spark.read.parquet(f"{out}/packets"), opts))


def test_signing_key_file_is_never_partial(spark, tmp_path, monkeypatch):
    """signing_key.json is replaced whole: a run that fails while encoding
    it leaves the previous file as it was, not a truncated one."""
    inp = write_turns_table(
        spark, generate_turns(n_convs=4, seed=3, hours=1), str(tmp_path / "turns")
    )
    out = str(tmp_path / "out")
    opts = IngestionOptions(
        window_start_s=JAN,
        duration_s=3600,
        batch_size=8,
        signing_key_pem=generate_signing_key_pem("atomic-key-test"),
    )
    run_ingestion(spark, inp, out, opts)
    with open(f"{out}/signing_key.json") as fh:
        before = fh.read()
    real_dump, real_dumps = json.dump, json.dumps

    def failing(real):
        def encode(obj, *args, **kw):
            if not (isinstance(obj, dict) and "public_key_der_b64" in obj):
                return real(obj, *args, **kw)
            if args:  # json.dump: part of the text reaches the file first
                args[0].write('{"key_identifier": ')
            raise RuntimeError("injected encoding failure")

        return encode

    monkeypatch.setattr(json, "dump", failing(real_dump))
    monkeypatch.setattr(json, "dumps", failing(real_dumps))
    with pytest.raises(RuntimeError, match="injected encoding failure"):
        run_ingestion(spark, inp, out, opts)
    monkeypatch.undo()
    with open(f"{out}/signing_key.json") as fh:
        assert fh.read() == before
    assert json.loads(before)["key_identifier"] == opts.signing_key_id
