"""run_ingestion's commit finds a window's previous containers from that
window's avro_manifest leg: a re-run replaces the window's containers,
stale ones included, leaves other windows' containers alone, and never
lists the container tree, whose size grows with the root's history. A
re-run also clears the window's whole manifest partition."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

from exposure_notifications_private_analytics_ingestion_spark.functions.avro_codec import (
    utc_ts_path,
)
from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
    IngestionOptions,
    run_ingestion,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import (
    generate_turns,
    read_packet_containers,
    write_turns_table,
)

JAN = 1704067200


def _containers(out: str, window_start_s: int) -> dict[str, str]:
    return {
        os.path.relpath(p, out): hashlib.sha256(open(p, "rb").read()).hexdigest()
        for p in glob.glob(f"{out}/avro/*/*/{utc_ts_path(window_start_s)}/*.batch.avro")
    }


def test_rerun_replaces_stale_containers_without_listing_them(spark, tmp_path, monkeypatch):
    turns = generate_turns(n_convs=10, seed=12, hours=2, dup_frac=0.0)
    inp = write_turns_table(spark, turns, str(tmp_path / "turns"))
    out = str(tmp_path / "out")

    def window(start, batch_size=4):
        return IngestionOptions(
            window_start_s=start, duration_s=3600, batch_size=batch_size,
            emit_avro_containers=True,
        )

    run_ingestion(spark, inp, out, window(JAN))
    run_ingestion(spark, inp, out, window(JAN + 3600))
    first, other = _containers(out, JAN), _containers(out, JAN + 3600)
    assert first and other

    # the re-run loses one conversation and chunks the rest differently, so
    # some of the window's containers go stale
    victim = sorted({p.split(os.sep)[2] for p in first})[0]
    rerun_in = write_turns_table(
        spark, turns[turns["conv_id"] != victim], str(tmp_path / "turns-rerun")
    )
    listed = []
    for mod, name in ((glob, "glob"), (glob, "iglob"), (os, "listdir"), (os, "scandir")):
        real = getattr(mod, name)

        def spy(path=".", *a, _real=real, **kw):
            if not isinstance(path, int):  # rmtree lists by descriptor
                listed.append(os.fspath(path))
            return _real(path, *a, **kw)

        monkeypatch.setattr(mod, name, spy)
    run_ingestion(spark, rerun_in, out, window(JAN, batch_size=3))
    monkeypatch.undo()

    avro_root = os.path.join(out, "avro")
    assert not [p for p in listed if p == avro_root or p.startswith(avro_root + os.sep)]
    manifest = spark.read.parquet(f"{out}/avro_manifest").filter(f"window_start_s = {JAN}")
    now = _containers(out, JAN)
    assert sorted(now) == sorted(os.path.relpath(r["path"], out) for r in manifest.collect())
    assert set(now) != set(first) and not any(p.split(os.sep)[2] == victim for p in now)
    assert _containers(out, JAN + 3600) == other


def test_window_rewrite_clears_stale_manifest_partitions(spark, tmp_path):
    """Re-running a window clears THAT window's manifest partition
    wholesale: a destination present in an earlier run but absent from the
    rewrite must not leave manifest rows pointing at container files the W4
    cleanup deleted — the manifest-driven read fast path would fail on
    ghosts."""
    pdf = generate_turns(n_convs=6, seed=3, hours=1)
    write_turns_table(spark, pdf, str(tmp_path / "turns"))
    opts = IngestionOptions(
        window_start_s=JAN, duration_s=7200, batch_size=8,
        emit_avro_containers=True,
    )
    run_ingestion(spark, str(tmp_path / "turns"), str(tmp_path / "out"), opts)
    man_dir = str(tmp_path / f"out/avro_manifest/window_start_s={JAN}")
    # plant a ghost destination partition (as if a prior run had routed to
    # a destination this rewrite no longer produces)
    shutil.copytree(f"{man_dir}/destination=pha", f"{man_dir}/destination=ghost")
    run_ingestion(spark, str(tmp_path / "turns"), str(tmp_path / "out"), opts)
    assert not os.path.exists(f"{man_dir}/destination=ghost")
    # the manifest fast path reads clean and matches the parquet leg
    pk = spark.read.parquet(str(tmp_path / "out/packets")).count()
    assert read_packet_containers(spark, str(tmp_path / "out/avro")).count() == pk
