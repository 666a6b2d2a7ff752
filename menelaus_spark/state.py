"""Checkpoint manifest: per-partition lineage + metrics + serialized
check state + verdict rows.

The manifest is an append-only JSONL file (one record per completed
partition, written atomically via temp-file + rename). On restart the
runner replays completed partitions' verdict rows VERBATIM from the
manifest and restores each drift detector's state from the last
record, so a killed job resumes validating only unvisited partitions
and reproduces a byte-identical verdict table (north_rule).

Record shape:
    {"partition_key": str, "seq": int, "n_rows": int,
     "fingerprint": {"n": int, "key_hash": int},
     "verdicts": [verdict-row dicts], "n_violations": int,
     "check_states": {check_name: state dict}, "elapsed_s": float}

A partition's violation rows live beside the manifest, in
``violations/partition_key=<pk>/``, written before its record is
appended; a run returns the files of recorded partitions only.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile


class CheckpointManifest:
    def __init__(self, checkpoint_dir: str):
        self.dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)
        self.path = os.path.join(checkpoint_dir, "manifest.jsonl")
        self.records: list[dict] = []
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        self.records.append(json.loads(line))

    def completed_keys(self) -> list[str]:
        return [r["partition_key"] for r in self.records]

    def last_states(self) -> dict:
        return self.records[-1]["check_states"] if self.records else {}

    def replayed_verdicts(self) -> list[dict]:
        out = []
        for r in self.records:
            out.extend(r["verdicts"])
        return out

    def append(self, record: dict) -> None:
        """Atomic append: write the whole file to a temp and rename, so
        a kill mid-write never corrupts the manifest."""
        self.records.append(record)
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".manifest.tmp")
        try:
            with os.fdopen(fd, "w") as f:
                for r in self.records:
                    f.write(json.dumps(r, sort_keys=True) + "\n")
            os.replace(tmp, self.path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def violations_dir(self, partition_key: str) -> str:
        return os.path.join(self.dir, "violations", f"partition_key={partition_key}")

    def write_violations(self, partition_key: str, table=None) -> int:
        """Replace a partition's violation files with ``table``, a
        pyarrow Table in the violation schema, written as ONE Parquet
        file; ``None`` or no rows leaves none. The directory is cleared
        first, so rows of an earlier attempt never outlive this one,
        and the file lands by temp-file + rename: a kill leaves at most
        a dot-named temp, which Spark's reader skips. Returns the number
        of rows written."""
        import pyarrow.parquet as pq

        d = self.violations_dir(partition_key)
        shutil.rmtree(d, ignore_errors=True)
        if table is None or table.num_rows == 0:
            return 0
        os.makedirs(d)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".", suffix=".parquet.tmp")
        os.close(fd)
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(d, "part-00000.parquet"))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return table.num_rows
