"""Cross-table atomic commit over plain parquet.

The matview module commits ONE table per pointer flip
(operators/matview.py — generation dirs + an fsync'd rename). Real
pipelines routinely need TWO OR MORE tables to move together: fact +
its aggregate, data + its watermark (the reference commits
raw_launches and ingestion_state in one Postgres transaction,
reference src/database.py:133-223 — exactly the contract plain
parquet loses). This module restores it with one shared pointer:

- a transaction root holds per-table generation dirs
  (``<root>/<table>/gen=<n>``) and ONE ``_txn_pointer.json`` mapping
  every table to its committed generation;
- a commit writes all staged generations FIRST (arbitrarily slow,
  crash-safe: uncommitted gen dirs are invisible), then atomically
  replaces the pointer file — the single fsync'd ``os.replace`` is
  the only commit point, so readers see either ALL tables advance or
  NONE;
- readers resolve paths through the pointer snapshot they grabbed,
  so a concurrent commit never tears a multi-table read (the classic
  snapshot-isolation read of a Delta/Iceberg log, reduced to one
  JSON file);
- generations retain until ``vacuum`` drops pre-pointer ones, giving
  cross-table time travel for free.

Scale: the pointer is O(tables) metadata; table bytes are written
exactly once with normal distributed writes. The pointer replace
(``storage.publish_json``) is unconditional: two concurrent committers
both succeed and the later one silently wins. Compare-and-swap on the
pointer version is an open ROADMAP item.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from spacex_data_engineering_pipeline_spark.session import read_parquet
from spacex_data_engineering_pipeline_spark.storage import publish_json

_POINTER = "_txn_pointer.json"


def _pointer_path(root: str) -> str:
    return os.path.join(root, _POINTER)


def read_pointer(root: str) -> dict:
    """Current committed pointer: {'version': int, 'tables': {name: gen}}."""
    with open(_pointer_path(root)) as f:
        return json.load(f)


def init_txn_root(root: str) -> None:
    """Create an empty transaction root (version 0, no tables)."""
    os.makedirs(root, exist_ok=True)
    _commit(root, {"version": 0, "tables": {}, "last_batch_id": None})


def _commit(root: str, pointer: dict) -> None:
    publish_json(_pointer_path(root), pointer)


def _hardlink_forward(src_dir: str, dst_dir: str) -> None:
    """Link the previous generation's data files into the next one —
    O(#files) metadata, zero bytes copied (copy fallback for
    filesystems without hardlinks)."""
    for entry in os.listdir(src_dir):
        if entry.startswith((".", "_")):  # _SUCCESS, hidden debris
            continue
        s, d = os.path.join(src_dir, entry), os.path.join(dst_dir, entry)
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)


def commit_tables(
    root: str,
    tables: dict[str, DataFrame] | None = None,
    appends: dict[str, DataFrame] | None = None,
    batch_id: int | None = None,
) -> dict:
    """Atomically publish new versions of every table in ``tables``
    (full replacement) and ``appends`` (previous generation's files
    hardlinked forward + the batch written alongside — O(batch), not
    O(table)). All writes land in fresh generation dirs; the single
    pointer replace at the end is the commit point — a crash before
    it leaves every table at its previous version.

    ``batch_id`` (monotonically increasing, e.g. a streaming epoch)
    makes the commit EXACTLY-ONCE on an at-least-once feed: a batch
    at or below the committed ``last_batch_id`` is skipped entirely
    (same ledger contract as operators/matview.py::apply_delta).
    Returns the (possibly unchanged) pointer.
    """
    overlap = set(tables or {}) & set(appends or {})
    if overlap:
        raise ValueError(
            f"table(s) {sorted(overlap)} appear in both 'tables' and "
            "'appends' — the two passes would each derive gen=prev+1 from "
            "the stale pointer and the append would silently discard the "
            "replacement; commit one operation per table per transaction"
        )
    ptr = read_pointer(root)
    last = ptr.get("last_batch_id")
    if batch_id is not None and last is not None and batch_id <= last:
        return ptr
    new_tables = dict(ptr["tables"])
    for group, is_append in ((tables or {}, False), (appends or {}, True)):
        for name, df in group.items():
            if "/" in name or name.startswith("."):
                raise ValueError(f"bad table name {name!r}")
            prev = ptr["tables"].get(name)
            gen = (-1 if prev is None else prev) + 1
            gdir = os.path.join(root, name, f"gen={gen}")
            # stage under a dot-name (invisible to directory listings
            # and any concurrent reader), then rename into place —
            # still uncommitted until the pointer flips
            stage = os.path.join(root, name, f".gen_stage_{gen}")
            shutil.rmtree(stage, ignore_errors=True)
            if is_append and prev is not None:
                os.makedirs(stage)
                tmp = os.path.join(root, name, f".gen_batch_{gen}")
                shutil.rmtree(tmp, ignore_errors=True)
                df.write.mode("overwrite").parquet(tmp)
                _hardlink_forward(
                    os.path.join(root, name, f"gen={prev}"), stage
                )
                for i, entry in enumerate(
                    sorted(os.listdir(tmp))
                ):
                    if entry.endswith(".parquet") or entry.startswith("part-"):
                        os.replace(
                            os.path.join(tmp, entry),
                            os.path.join(stage, f"batch-{gen:06d}-{i:04d}.parquet"),
                        )
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                df.write.mode("overwrite").parquet(stage)
            shutil.rmtree(gdir, ignore_errors=True)
            os.replace(stage, gdir)
            new_tables[name] = gen
    new_ptr = {
        "version": ptr["version"] + 1,
        "tables": new_tables,
        "last_batch_id": batch_id if batch_id is not None else last,
    }
    _commit(root, new_ptr)  # THE commit point
    return new_ptr


def read_table(
    spark: SparkSession, root: str, name: str, pointer: dict | None = None
) -> DataFrame:
    """Read one table at the committed (or supplied) pointer snapshot.
    Pass the same ``pointer`` to several calls for a consistent
    multi-table read regardless of concurrent commits."""
    ptr = pointer or read_pointer(root)
    if name not in ptr["tables"]:
        raise KeyError(f"table {name!r} not committed in this root")
    gen = ptr["tables"][name]
    return read_parquet(spark, os.path.join(root, name, f"gen={gen}"))


def vacuum(root: str, keep_last: int = 1) -> int:
    """Drop generations older than the last ``keep_last`` committed
    ones per table (plus any orphaned staging debris); returns the
    number of directories removed. Never touches the committed
    generation."""
    ptr = read_pointer(root)
    removed = 0
    for name, gen in ptr["tables"].items():
        tdir = os.path.join(root, name)
        for entry in os.listdir(tdir):
            full = os.path.join(tdir, entry)
            if entry.startswith((".gen_stage_", ".gen_batch_")):
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
            elif entry.startswith("gen="):
                g = int(entry.split("=", 1)[1])
                if g <= gen - keep_last:
                    shutil.rmtree(full, ignore_errors=True)
                    removed += 1
    return removed
