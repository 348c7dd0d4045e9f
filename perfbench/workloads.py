"""Inputs, passes and output checks of the benchmark workloads.

Every input is generated from the seed by the package's own payload
builders in plain Python (no Spark), written as parquet, and cached under
the work directory keyed by workload, seed and
``transcripts.generator_fingerprint()``. The program only ever sees the
parquet. A *pass* is one batch job against the package's public entry
points; its output is reduced to a row count and a content digest (xxhash64
of every output column summed in ``decimal(38,0)``), so every pass is
checked and runs of one seed can be compared across commits.
"""

from __future__ import annotations

import json
import shutil
import time
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from docling_gfcr_spark import pipeline, transcripts

N_FILES = 8  # parquet files per input, so a scan splits into >= cores tasks
ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
ORACLE_FIELDS = ("extracted_text", "method", "success", "error")


def _rng(seed: int, *key) -> np.random.RandomState:
    return np.random.RandomState(zlib.crc32(repr((seed,) + key).encode()) & 0x7FFFFFFF)


def turn_name(conv_id: str, turn_idx: int) -> str:
    # extract_turns' per-turn document name: format_string("%s-%06d") with
    # spaces replaced by underscores
    return f"{conv_id}-{turn_idx:06d}".replace(" ", "_")


def _conv_rows_to_target(seed: int, target: int, mean_turns: int, mega_every: int, skew: int):
    """Conversations of the transcript generator until exactly ``target``
    turns (the last one is cut), so every seed gives the same input size.
    Generated in this process: a worker pool would leave its resource
    tracker process running after the benchmark exits."""
    rows, c = [], 0
    while len(rows) < target:
        keep = target - len(rows)
        conv = transcripts.gen_conv_rows(seed, c, mean_turns, mega_every, skew)
        rows.extend(r for r in conv if r["turn_idx"] < keep)
        c += 1
    return rows


def _write_by_conv(rows: list[dict], out: Path, spread: tuple[str, ...] = ()) -> None:
    """Whole conversations per file, conversations dealt round-robin; the
    turns of the conversations in ``spread`` are dealt over all files."""
    convs = sorted({r["conv_id"] for r in rows})
    slot = {cid: i % N_FILES for i, cid in enumerate(convs)}

    def file_of(r: dict) -> int:
        return r["turn_idx"] % N_FILES if r["conv_id"] in spread else slot[r["conv_id"]]

    out.mkdir(parents=True)
    for f in range(N_FILES):
        part = [r for r in rows if file_of(r) == f]
        pq.write_table(pa.Table.from_pylist(part, schema=ARROW_SCHEMA), out / f"part-{f}.parquet")


def digest(df) -> tuple[int, str]:
    """(rows, sum of xxhash64 over every column in decimal(38,0))."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("d"),
    ).collect()[0]
    return int(row.n), str(row.d)


@dataclass
class Pass:
    """Outcome of one timed pass."""

    seconds: float
    rows: int
    digest: str
    problems: list[str] = field(default_factory=list)
    stage_spans: dict = field(default_factory=dict)  # corpus_build only


class Workload:
    name = ""
    version = 2  # bump when the generated input changes
    settle_passes = 0  # untimed passes between set-up and the timed loop

    def __init__(self, inputs: Path, scratch: Path, seed: int):
        self.seed = seed
        key = f"{self.name}-v{self.version}-s{seed}-{transcripts.generator_fingerprint()}"
        self.input_dir = inputs / key
        self.scratch = scratch
        self.spark = None
        self._ref: tuple[int, str] | None = None

    # -- input -----------------------------------------------------------
    def prepare(self) -> None:
        """Generate the input once per (seed, generator fingerprint)."""
        meta = self.input_dir / "meta.json"
        if not meta.exists():
            shutil.rmtree(self.input_dir, ignore_errors=True)
            info = self.generate(self.input_dir / "data")
            meta.write_text(json.dumps(info))
        self.meta = json.loads(meta.read_text())
        self.table = pq.read_table(self.input_dir / "data")

    def generate(self, out: Path) -> dict:
        raise NotImplementedError

    @property
    def input_turns(self) -> int:
        return self.table.num_rows

    def input_bytes(self) -> int:
        return sum(p.stat().st_size for p in (self.input_dir / "data").rglob("*.parquet"))

    def bind(self, spark) -> None:
        self.spark = spark
        self.inp = spark.read.parquet(str(self.input_dir / "data"))

    # -- passes ----------------------------------------------------------
    def warmup(self) -> None:
        """Extract one input file: pays Python worker spawn, imports and the
        first JIT of the extraction path without a whole pass."""
        first = self.spark.read.parquet(str(self.input_dir / "data" / "part-0.parquet"))
        digest(pipeline.extract_turns(first, mode="agent"))

    def run_pass(self, i: int) -> Pass:
        raise NotImplementedError

    def _check_digest(self, p: Pass, want_rows: int) -> Pass:
        if p.rows != want_rows:
            p.problems.append(f"{p.rows} output rows, want {want_rows}")
        if self._ref is None:
            self._ref = (p.rows, p.digest)
        elif (p.rows, p.digest) != self._ref:
            p.problems.append(f"digest {p.digest} differs from the first pass {self._ref[1]}")
        return p

    def verify(self) -> list[str]:
        """Once per process: a seeded sample against the local oracle."""
        return []

    def close(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


class ExtractMix(Workload):
    """extract_turns(mode="agent") over the full transcript kind mix."""

    name = "extract_mix"
    TURNS = 8000
    settle_passes = 4

    def warmup(self) -> None:
        """One whole pass."""
        digest(self._out(self.inp))

    def generate(self, out: Path) -> dict:
        rows = _conv_rows_to_target(self.seed, self.TURNS, 8, 100, 40)
        # extraction is per row: equal files keep the tasks balanced, so a
        # pass does not wait on the file that holds the mega-conversations
        table = pa.Table.from_pylist(rows, schema=ARROW_SCHEMA)
        table = table.take(_rng(self.seed, "order").permutation(len(rows)))
        out.mkdir(parents=True)
        step = -(-len(rows) // N_FILES)
        for f in range(N_FILES):
            pq.write_table(table.slice(f * step, step), out / f"part-{f}.parquet")
        return {"turns": len(rows)}

    def _out(self, df):
        return pipeline.extract_turns(df, mode="agent")

    def run_pass(self, i: int) -> Pass:
        t0 = time.perf_counter()
        n, d = digest(self._out(self.inp))
        return self._check_digest(Pass(time.perf_counter() - t0, n, d), self.input_turns)

    def sample_keys(self) -> list[tuple[str, int]]:
        """Two seeded rows of every payload kind present."""
        cols = self.table.select(["conv_id", "turn_idx", "tool"]).to_pydict()
        by_kind: dict[str, list[int]] = {}
        for j, k in enumerate(cols["tool"]):
            by_kind.setdefault(k, []).append(j)
        rng = _rng(self.seed, "sample")
        keys = []
        for k in sorted(by_kind):
            for j in rng.choice(by_kind[k], size=min(2, len(by_kind[k])), replace=False):
                keys.append((cols["conv_id"][j], cols["turn_idx"][j]))
        return keys

    def verify(self) -> list[str]:
        from pyspark.sql import functions as F

        keys = self.sample_keys()
        tag = F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
        got = {
            (r.conv_id, r.turn_idx): r
            for r in self._out(self.inp.where(tag.isin([f"{c}:{t}" for c, t in keys]))).collect()
        }
        src = {
            (c, t): (x, k)
            for c, t, x, k in zip(*self.table.select(["conv_id", "turn_idx", "text", "tool"]).to_pydict().values())
        }
        problems = []
        for key in keys:
            text, tool = src[key]
            want = pipeline.extract_one(text, tool, turn_name(*key), "agent")
            row = got.get(key)
            if row is None:
                problems.append(f"sampled turn {key} missing from the output")
                continue
            for f in ORACLE_FIELDS:
                if row[f] != want[f]:
                    problems.append(f"turn {key} ({tool}) field {f} differs from extract_one")
        return problems


class CorpusBuild(Workload):
    """jobs.corpus_build.run_corpus_build end to end, fresh output per pass,
    with the optional semantic dedup stage on so operators/similarity runs."""

    name = "corpus_build"
    BASE_TURNS = 1200
    N_EXACT, N_NEAR, N_HELDOUT = 10, 10, 5
    # one conversation spanning several 1,024-turn assembly slabs, so the
    # two-phase (slab, then conversation) assembly path does real work
    MEGA_ID, MEGA_TURNS = "mega-000000", 1200
    SEMANTIC = (64, 4, 0.95)

    def generate(self, out: Path) -> dict:
        rows = _conv_rows_to_target(self.seed, self.BASE_TURNS, 8, 0, 50)
        by_conv: dict[str, list[dict]] = {}
        for r in rows:
            by_conv.setdefault(r["conv_id"], []).append(r)
        ids = sorted(by_conv)
        rng = _rng(self.seed, "dups")
        # copies under new ids; half of them also lose their last turn. Plain
        # turns are title-wrapped with their conversation id, so after
        # extraction every copy is a near duplicate (dedup_near), not an
        # exact one
        for i, src in enumerate(rng.choice(ids, self.N_EXACT + self.N_NEAR, replace=False)):
            turns = by_conv[src]
            near = i >= self.N_EXACT
            last = max(r["turn_idx"] for r in turns)
            for r in turns:
                if not (near and last > 0 and r["turn_idx"] == last):
                    rows.append(dict(r, conv_id=f"{'near' if near else 'dup'}-{i:06d}"))
        # the held-out set shares markdown turns with a few conversations, so
        # decontaminate has documents to drop
        held = [
            r["text"]
            for src in rng.choice(ids, self.N_HELDOUT, replace=False)
            for r in by_conv[src]
            if r["tool"] == "markdown"
        ] or ["no overlap with any generated text"]
        epoch = datetime(2026, 1, 1, tzinfo=timezone.utc)
        for t in range(self.MEGA_TURNS):
            role, text, tool = transcripts.gen_turn(self.seed, 10**6, t)
            rows.append({"conv_id": self.MEGA_ID, "turn_idx": t, "role": role, "text": text,
                         "tool": tool, "ts": epoch + timedelta(seconds=7 * t)})
        _write_by_conv(rows, out, spread=(self.MEGA_ID,))
        pq.write_table(pa.table({"text": held}), out.parent / "heldout.parquet")
        sample = [self.MEGA_ID] + [str(c) for c in rng.choice(ids, 2, replace=False)]
        return {"turns": len(rows), "heldout": len(held), "sample": sample}

    def bind(self, spark) -> None:
        super().bind(spark)
        self.held = spark.read.parquet(str(self.input_dir / "heldout.parquet"))

    def out_dir(self, i: int) -> Path:
        return self.scratch / f"{self.name}-pass{i}"

    def run_pass(self, i: int) -> Pass:
        from jobs import corpus_build

        out = self.out_dir(i)
        shutil.rmtree(out, ignore_errors=True)
        t_wall = time.time()
        t0 = time.perf_counter()
        report = corpus_build.run_corpus_build(
            self.spark, self.inp, self.held, str(out), semantic=self.SEMANTIC
        )
        p = Pass(time.perf_counter() - t0, *digest(corpus_build.read_packed(self.spark, str(out))))
        p.problems += self._check_report(report, out)
        p.stage_spans = self._stage_spans(out, t_wall)
        self._check_digest(p, p.rows)
        if i > 0:
            shutil.rmtree(self.out_dir(i - 1), ignore_errors=True)
        self.last_out = out
        return p

    def verify(self) -> list[str]:
        """The assembled documents of the mega-conversation and two sampled
        conversations equal the oracle turns joined by newline in turn
        order."""
        from pyspark.sql import functions as F

        sample = self.meta["sample"]
        docs = self.spark.read.parquet(str(self.last_out / "assemble"))
        got = {r.conv_id: r.conv_text for r in docs.where(F.col("conv_id").isin(sample)).collect()}
        cols = self.table.filter(pc.is_in(self.table["conv_id"], pa.array(sample))).to_pydict()
        turns: dict[str, list] = {c: [] for c in sample}
        for c, t, x, k in zip(cols["conv_id"], cols["turn_idx"], cols["text"], cols["tool"]):
            turns[c].append((t, x, k))
        problems = []
        for c in sample:
            parts = []
            for t, x, k in sorted(turns[c], key=lambda r: r[0]):
                e = pipeline.extract_one(x, k, turn_name(c, t), "agent")["extracted_text"]
                if e is not None:
                    parts.append(e)
            if got.get(c) != "\n".join(parts):
                problems.append(f"assembled conversation {c} ({len(turns[c])} turns) differs from the oracle")
        return problems

    def _check_report(self, report: dict, out: Path) -> list[str]:
        from docling_gfcr_spark import lineage
        from jobs import corpus_build

        chain = list(corpus_build.SEMANTIC_STAGES)
        problems = []
        if report["stages_run"] != chain or report["stages_skipped_on_resume"]:
            problems.append(f"stages_run {report['stages_run']}, skipped {report['stages_skipped_on_resume']}")
        lin = corpus_build.read_stage_lineage(self.spark, str(out)).collect()
        n_out = {r.stage: r.n_out for r in lin}
        for s in chain:
            d = str(out / s)
            n = (lineage.read_extracted(self.spark, d) if s == "extract" else self.spark.read.parquet(d)).count()
            if n_out.get(s) != n:
                problems.append(f"stage {s}: lineage n_out {n_out.get(s)}, {n} rows read back")
        if report["packed_rows"] <= 0:
            problems.append("empty packed output")
        return problems

    def _stage_spans(self, out: Path, t_start: float) -> dict:
        """stage -> (start, end, rows_out) from the committed_at deltas the
        job writes to stage_lineage; the first stage starts with the pass."""
        from jobs import corpus_build

        lin = sorted(corpus_build.read_stage_lineage(self.spark, str(out)).collect(), key=lambda r: r.committed_at)
        spans, prev = {}, t_start
        for r in lin:
            spans[r.stage] = (prev, r.committed_at, r.n_out)
            prev = r.committed_at
        return spans


WORKLOADS = {w.name: w for w in (ExtractMix, CorpusBuild)}
