"""Self-test of the output checker: it must pass on a real output and fail
on each of three corruptions of it.

Run from the root of a checkout::

    python3 perfbench/selftest.py

It ingests two small hourly windows with the engine, checks them, then
checks three corrupted copies of the output: one byte flipped in one
``.batch.avro``, one packet dropped, one header digest altered. Exits 0
only if the clean copy passes and every corrupted copy fails.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import run

PRIO = {"hours": 4, "docs_per_hour": 300, "hot_turns_per_hour": 50, "batch_size": 20}
WINDOWS = [1, 2]


def flip_avro_byte(out: str) -> None:
    path = sorted(glob.glob(f"{out}/avro/**/*.batch.avro", recursive=True))[0]
    with open(path, "r+b") as fh:
        blob = bytearray(fh.read())
        i = len(blob) - 20  # inside the last block's records
        blob[i] ^= 0x01
        fh.seek(0)
        fh.write(blob)


def _rewrite_first(pattern: str, edit) -> None:
    path = sorted(glob.glob(pattern))[0]
    table = pq.read_table(path)
    pq.write_table(edit(table), path)


def drop_packet(out: str) -> None:
    _rewrite_first(f"{out}/packets/*/destination=pha/*.parquet", lambda t: t.slice(1))


def alter_digest(out: str) -> None:
    def edit(t: pa.Table) -> pa.Table:
        col = t.column("packet_file_digest").to_pylist()
        col[0] = ("0" if col[0][0] != "0" else "1") + col[0][1:]
        i = t.schema.get_field_index("packet_file_digest")
        return t.set_column(i, "packet_file_digest", pa.array(col, pa.string()))

    _rewrite_first(f"{out}/batch_headers/*/destination=pha/*.parquet", edit)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
        IngestionOptions,
        run_ingestion,
    )

    scratch = run.make_scratch(root, "selftest")
    tree = run.ProcTree()
    ok = True
    try:
        rec = gen.write_prio_documents(f"{scratch}/documents", 7, **PRIO)
        pem = run.signing_key_pem()
        out = f"{scratch}/out"
        spark = run.start_spark(scratch)
        stats = {}
        try:
            for h in WINDOWS:
                stats[h] = run_ingestion(spark, f"{scratch}/documents", out, IngestionOptions(
                    window_start_s=gen.T0_S + h * 3600, batch_size=PRIO["batch_size"],
                    emit_avro_containers=True, signing_key_pem=pem,
                    signing_key_id=run.SIGNING_KEY_ID,
                ))
        finally:
            run.stop_spark(spark, tree)
        cases = [("clean", None), ("flipped avro byte", flip_avro_byte),
                 ("dropped packet", drop_packet), ("altered header digest", alter_digest)]
        for name, corrupt in cases:
            copy = f"{scratch}/case"
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(out, copy)
            if corrupt:
                corrupt(copy)
            try:
                check.check_prio(rec, copy, WINDOWS, stats, run.SIGNING_KEY_ID)
                failed, why = False, ""
            except check.CheckFailed as e:
                failed, why = True, str(e)
            expected = corrupt is not None
            ok &= failed == expected
            verdict = "ok" if failed == expected else "WRONG"
            print(f"{verdict}: {name}: checker {'failed' if failed else 'passed'} {why}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
