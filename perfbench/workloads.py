"""The four workloads. Each builds its inputs from the seed (untimed) and
then runs one operation at a time; ``op`` returns the digest of the
operation's output table, which ``run.py`` checks."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil

from perfbench import tabular

SUITE_PARTS = 10


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def digest_rows(rows: list) -> str:
    """Order-insensitive sha256 of a collected table."""
    lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Context:
    """What every workload shares: the session, the scratch directory,
    the seed and the sizes."""

    def __init__(self, spark, work: str, seed: int, sizes: dict):
        self.spark, self.work, self.seed, self.sizes = spark, work, seed, sizes
        self.tracer = None
        self.fixtures: dict = {}


class SuiteWorkload:
    """``ValidationSuite.run`` over a partitioned clip table, fresh
    checkpoint per op."""

    codecs = ["pcm", "opus", "mp3", "aac", "flac"]

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n_ops = 0
        self.state_bytes_written = 0

    @property
    def rows_per_op(self) -> int:
        return self.ctx.sizes["clips"]

    def table_path(self, real_codecs=False, neardup_frac=0.0) -> str:
        """Write (once per context) the seeded clip table; return its path."""
        from menelaus_spark import tables

        key = f"audio_{real_codecs}_{neardup_frac}"
        path = os.path.join(self.ctx.work, key)
        if key not in self.ctx.fixtures:
            tables.write_audio_table(
                tables.audio_table(
                    self.ctx.spark, n_rows=self.ctx.sizes["clips"], n_parts=SUITE_PARTS,
                    seed=self.ctx.seed, real_codecs=real_codecs, neardup_frac=neardup_frac),
                path)
            self.ctx.fixtures[key] = path
        return path

    def prepare(self) -> None:
        self.path = self.table_path()

    def suite_kwargs(self) -> dict:
        return {}

    def suite(self, ckpt: str):
        from menelaus_spark import tables
        from menelaus_spark.runner import ValidationSuite

        # the flagship configuration of bench.py's audio_suite leaf
        return ValidationSuite(
            self.ctx.spark, ckpt,
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            accepted_values={"codec": self.codecs},
            kdq_params={"count_ubound": 200, "bootstrap_samples": 200},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                           "min_band_ratio": 0.01},
            **self.suite_kwargs(),
        )

    def fresh_checkpoint(self) -> str:
        self.n_ops += 1
        ckpt = os.path.join(self.ctx.work, f"ckpt_{self.name}_{self.n_ops}")
        shutil.rmtree(ckpt, ignore_errors=True)
        return ckpt

    def run_suite(self, ckpt: str, df_filter: str | None = None) -> str:
        tracer = self.ctx.tracer
        with tracer.span("session.read_parquet", "session") if tracer else contextlib.nullcontext():
            df = self.ctx.spark.read.parquet(self.path)
        if df_filter:
            df = df.filter(df_filter)
        verdicts, _violations = self.suite(ckpt).run(df)
        return digest_rows([r.asDict(recursive=True) for r in verdicts.collect()])

    def start_op(self):
        """Untimed per-op set-up; returns the op's argument."""
        return self.fresh_checkpoint()

    def op(self, ckpt: str) -> str:
        return self.run_suite(ckpt)

    def end_op(self, ckpt: str) -> None:
        """Untimed per-op clean-up."""
        self.state_bytes_written = _dir_bytes(ckpt)
        shutil.rmtree(ckpt, ignore_errors=True)

    def extra_checks(self, digest: str) -> list[str]:
        return []


class SuiteCold(SuiteWorkload):
    name = "suite_cold"
    why = ("north-star job: full flagship suite on a cold 10-partition PCM table; "
           "decode (audio) and runner's overlapped global passes dominate")


class SuiteAppend(SuiteWorkload):
    name = "suite_append"
    why = ("daily use: resume from a manifest of partitions 0-8 and validate the new "
           "partition 9; runner fixed cost, state replay and global uniqueness dominate")

    def prepare(self) -> None:
        super().prepare()
        # manifest of partitions 0..8, built once; each op resumes a copy
        self.base = os.path.join(self.ctx.work, "ckpt_append_base")
        shutil.rmtree(self.base, ignore_errors=True)
        self.run_suite(self.base, df_filter=f"part < {SUITE_PARTS - 1}")
        self.base_bytes = _dir_bytes(self.base)
        # suite_cold's verdict table for the same seed: the resume contract
        ckpt = os.path.join(self.ctx.work, "ckpt_append_reference")
        shutil.rmtree(ckpt, ignore_errors=True)
        self.cold_digest = self.run_suite(ckpt)
        shutil.rmtree(ckpt, ignore_errors=True)

    def start_op(self):
        ckpt = self.fresh_checkpoint()
        shutil.copytree(self.base, ckpt)
        return ckpt

    def end_op(self, ckpt: str) -> None:
        super().end_op(ckpt)
        self.state_bytes_written -= self.base_bytes

    def extra_checks(self, digest: str) -> list[str]:
        if digest != self.cold_digest:
            return ["resumed verdict table differs from the one-shot (suite_cold) table"]
        return []


class SuiteHygiene(SuiteWorkload):
    name = "suite_hygiene"
    why = ("codec-mixed table with ~5% near-dups: ADPCM/u-law/A-law decode twice, "
           "MinHash/LSH pairs and connected_components (operators) all run")
    codecs = ["pcm", "ulaw", "alaw", "adpcm", "flac"]

    def prepare(self) -> None:
        self.path = self.table_path(real_codecs="full", neardup_frac=0.05)

    def suite_kwargs(self) -> dict:
        from menelaus_spark.audio import ADPCM_PAYLOAD_MODEL

        return {
            "payload_bps": {"ulaw": 1.0, "alaw": 1.0, "adpcm": ADPCM_PAYLOAD_MODEL},
            "neardup_rate_max": 0.2,
            "hot_key_max_frac": {"codec": 0.9},
            "uniqueness_mode": "sketch",
        }


class DriftTabular:
    """Eight ``__spark_entry__`` drift/sketch entries over seeded
    lineitem/events tables, each collected and checked against DuckDB."""

    name = "drift_tabular"
    why = ("no binary column, no decode: salted histogram exchanges, kdq/HDDDM, the "
           "applyInPandas streaming detector and HLL; bypass for decode changes")

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.state_bytes_written = 0
        self.mismatches: list[str] = []

    def prepare(self) -> None:
        import __spark_entry__ as entry_mod

        self.data = os.path.join(self.ctx.work, "tabular")
        counts = tabular.write_tables(self.data, self.ctx.seed,
                                      self.ctx.sizes["lineitem_sf"], self.ctx.sizes["events_sf"])
        self.rows_per_op = sum(counts[t] for t in tabular.ENTRIES.values())
        self.queries = entry_mod.queries()
        self.oracle = tabular.Oracle(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), entry_mod, self.data)

    def start_op(self):
        self.mismatches = []
        return None

    def op(self, _arg) -> str:
        tracer = self.ctx.tracer
        results = {}
        for name in tabular.ENTRIES:
            span = tracer.span(f"entry.{name}", "entry") if tracer else contextlib.nullcontext()
            with span:
                df = self.queries[name](self.ctx.spark, self.data)
                rows = df.collect()
            results[name] = self.oracle.canon_spark(df.columns, rows)
        self.mismatches = [m for m in (self.oracle.compare(n, got) for n, got in results.items())
                           if m]
        return hashlib.sha256(json.dumps(results, sort_keys=True).encode()).hexdigest()

    def end_op(self, _arg) -> None:
        # entries pin projections they never release: drop them so
        # every op starts from the same cache state
        self.ctx.spark.catalog.clearCache()

    def extra_checks(self, digest: str) -> list[str]:
        return list(self.mismatches)


WORKLOADS = {w.name: w for w in (SuiteCold, SuiteAppend, SuiteHygiene, DriftTabular)}
