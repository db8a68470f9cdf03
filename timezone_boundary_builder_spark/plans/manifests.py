"""Checkpoint-resumable stages via content-fingerprint manifests.

Engine re-expression of the reference's FileCache / FileLookupCache
(reference util/cache.js:50-128): every expensive stage is keyed by an
md5 fingerprint of its logical inputs (config + upstream output hashes —
exactly how the reference keys zone builds on md5(op list with overpass
ids replaced by download-file hashes), index.js:806-826); on re-run, a
stage whose fingerprint matches the stored manifest AND whose output
still hash-verifies (the corruption guard of util/cache.js:108-126) is
skipped and its parquet output is reused.

No wall-clock ever enters a fingerprint — content only (determinism rule
from SURVEY.md §7 hard-part #5).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def fingerprint(*parts: str) -> str:
    h = hashlib.md5()
    for p in parts:
        h.update(p.encode())
        h.update(b"\x00")
    return h.hexdigest()


def _output_hash(path: str) -> str:
    """Hash of the stage output: file names + sizes of the parquet files
    (cheap, stable; the reference re-hashes output bytes — file-level
    stats are the columnar equivalent since parquet writes are atomic)."""
    h = hashlib.md5()
    for dirpath, _, files in sorted(os.walk(path)):
        for fn in sorted(files):
            if fn.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, fn)
            h.update(fn.encode())
            h.update(str(os.path.getsize(full)).encode())
    return h.hexdigest()


class StageManifest:
    """One manifest JSON per pipeline root: stage -> {fingerprint,
    output_path, output_hash}. A stage writes under the root; `promote`
    can move its output elsewhere, and the record follows it."""

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "_manifest.json")
        os.makedirs(root, exist_ok=True)
        self._data = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._data = json.load(f)

    def _save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._data, f, indent=1)
        os.rename(tmp, self.path)

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        fp: str,
        compute: "callable[[], DataFrame]",
        publish_to: str | None = None,
    ) -> tuple[DataFrame, bool]:
        """Returns (df, was_cached). Skips compute when the stored
        fingerprint matches AND the output parquet re-verifies AND it
        sits where this run keeps it: under the root, or at `publish_to`
        (where this run promotes the stage). An output promoted anywhere
        else belongs to another publish and is recomputed, never reused,
        so this run cannot move it away from there."""
        rec = self._data.get(stage)
        out_path = os.path.realpath(os.path.join(self.root, stage))
        homes = {out_path}
        if publish_to is not None:
            homes.add(os.path.realpath(publish_to))
        if (
            rec
            and rec["fingerprint"] == fp
            and os.path.realpath(rec["output_path"]) in homes
            and os.path.exists(rec["output_path"])
            and _output_hash(rec["output_path"]) == rec["output_hash"]
        ):
            return spark.read.parquet(rec["output_path"]), True
        df = compute()
        df.write.mode("overwrite").parquet(out_path)
        self._data[stage] = {
            "fingerprint": fp,
            "output_path": out_path,
            "output_hash": _output_hash(out_path),
        }
        self._save()
        return spark.read.parquet(out_path), False

    def output_path(self, stage: str) -> str:
        return self._data[stage]["output_path"]

    def promote(self, stage: str, dest: str) -> None:
        """Move the stage's output to `dest`, replacing what is there, by
        a rename (no bytes are copied when both are on one filesystem),
        and record `dest` — the next run_stage with the same fingerprint
        and `publish_to=dest` verifies and returns the moved output. A
        no-op once it is there, however `dest` is spelled."""
        rec = self._data[stage]
        dest = os.path.realpath(dest)
        if os.path.realpath(rec["output_path"]) == dest:
            return
        if os.path.exists(dest):
            shutil.rmtree(dest)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(rec["output_path"], dest)
        rec["output_path"] = dest
        self._save()

    def discard(self, stage: str) -> None:
        """Forget the stage so the next run_stage recomputes it, deleting
        its output if it still sits under the root (a promoted output is
        left where it was published)."""
        rec = self._data.pop(stage, None)
        self._save()
        if rec and os.path.realpath(rec["output_path"]) == os.path.realpath(
            os.path.join(self.root, stage)
        ):
            shutil.rmtree(rec["output_path"], ignore_errors=True)


def publish(
    manifest: StageManifest,
    stage: str,
    written: DataFrame,
    h_in,
    dest: str,
    lineage_dest: str,
    snapshot: str,
    key_col: str,
    count_col,
    hash_cols: tuple[str, ...],
):
    """The one way a job publishes a table: verify the written `stage`
    of `manifest` against the input aggregate `h_in` (a Row/dict with
    the input's `h` = bit_xor(xxhash64(*hash_cols)) and row count `n`),
    then rename it to `dest` and write its lineage at `lineage_dest`.
    One pass over the written files yields the rows, the hash, the rows
    per `count_col` value and the per-partition lineage rows keyed by
    `key_col` (plans.lineage.summarize). On a mismatch nothing is
    published: the staged output and its manifest record are dropped,
    so the next run recomputes instead of replaying the stage, and
    AssertionError is raised. Returns the Summary."""
    from .lineage import summarize, write_lineage

    summary = summarize(written, key_col, count_col, hash_cols=hash_cols)
    # bit_xor over no rows is null; the summary's is 0
    if (h_in["h"] or 0) != summary.h or h_in["n"] != summary.rows:
        manifest.discard(stage)
        raise AssertionError(
            f"{stage}: hash invariant over {hash_cols} violated: input "
            f"({h_in['h']}, {h_in['n']} rows), written ({summary.h}, "
            f"{summary.rows} rows)"
        )
    lineage_staging = f"{lineage_dest}.__staging__"
    write_lineage(summary.lineage, lineage_staging)
    # The two promotes cannot be one atomic rename (rename(2) cannot
    # swap non-empty directories), so a crash between them CAN leave
    # a new output next to the previous run's lineage. Make that torn
    # state DETECTABLE: both dirs carry the same _publish.json (the
    # underscore prefix hides it from parquet readers and from the
    # output hash) — a consumer that needs the pair consistent
    # compares the two publish_ids, and the next run (a manifest hit)
    # heals the tear by re-verifying and re-publishing both without
    # rewriting the output.
    marker = {"publish_id": uuid.uuid4().hex, "snapshot": snapshot}
    for d in (manifest.output_path(stage), lineage_staging):
        with open(os.path.join(d, "_publish.json"), "w") as f:
            json.dump(marker, f)
    manifest.promote(stage, dest)
    shutil.rmtree(lineage_dest, ignore_errors=True)
    os.replace(lineage_staging, lineage_dest)
    return summary
