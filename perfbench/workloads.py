"""The benchmark's workloads: inputs built from a seed, one closed-loop job
each, and the checks that the job's outputs are right.

Every job goes through the program's public entry points only:
``plans.pipeline.run_pipeline`` and ``plans.manifest.run_resumable``.
"""
from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from pdf_extractor_spark.kernels.segment import (
    combine_markdown_sections,
    detect_payload_kind,
    extract_turn,
)
from pdf_extractor_spark.plans.manifest import (
    BUCKET_COL,
    DEFAULT_N_BUCKETS,
    run_resumable,
    with_bucket,
)
from pdf_extractor_spark.plans.pipeline import run_pipeline
from pdf_extractor_spark.sources.transcripts import TRANSCRIPT_SCHEMA, conv_turns

# conversations sampled per run for the byte-exact output checks
CHECK_SAMPLE = 8


@dataclass
class JobOut:
    turns: int               # turns the job processed
    out_bytes: int = 0       # bytes of output the job produced
    digest: tuple = ()


def _digest_aggs(cols: list[str], text_col: str):
    return (
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*cols)).alias("digest"),
        F.sum(F.octet_length(text_col)).alias("bytes"),
    )


def _write(spark, path: str, rows: list[dict]) -> None:
    pdf = pd.DataFrame(rows, columns=[f.split()[0] for f in TRANSCRIPT_SCHEMA.split(", ")])
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)


def _chat_only(conv: list[dict]) -> list[dict]:
    return [t for t in conv if detect_payload_kind(t["text"]) == "plain"]


def _text_bytes(conv: list[dict]) -> int:
    """UTF-8 bytes of the turns' text, as Spark's octet_length counts them."""
    return sum(len(t["text"].encode()) for t in conv)


def write_corpus(spark, path: str, seed: int, turns: int) -> list[list[dict]]:
    """Write the generator's conversations 0, 1, 2, ... for ``seed`` until
    they hold ``turns`` turns, and return them. A turn budget, not a
    conversation count, keeps the work per job nearly equal across seeds
    despite the heavy-tailed conversation lengths."""
    convs: list[list[dict]] = []
    held = 0
    while held < turns:
        convs.append(conv_turns(len(convs), seed))
        held += len(convs[-1])
    _write(spark, path, [t for c in convs for t in c])
    return convs


def _conv_id(num: int) -> str:
    # the generator's id format (sources.transcripts.conv_turns)
    return f"conv_{num:08d}"


class Workload:
    name = ""
    sizes: dict[str, object] = {}   # corpus size parameters per size
    # untimed jobs after set-up, per size: enough to take the timed jobs
    # past the steep start of the job-time curve (JVM compiling, heap growing)
    warmups: dict[str, int] = {}

    def __init__(self, spark, work_dir: str, seed: int, size: str):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.size = size
        self.scale = self.sizes[size]
        self.warmup_jobs = self.warmups[size]
        self.n_convs = 0
        self.corpus = os.path.join(work_dir, "corpus")
        self.manifest_template: str | None = None
        self.ref_digest: tuple | None = None
        self.in_rows = 0
        self.in_text_bytes = 0
        self.job_in_bytes = 0    # input text bytes a job reads and processes

    # set-up -----------------------------------------------------------
    def build(self) -> None:
        """Write the corpus (and any fixed starting state) under work_dir."""
        convs = write_corpus(self.spark, self.corpus, self.seed, self.scale)
        self._input_stats(convs)

    def _input_stats(self, convs: list[list[dict]]) -> None:
        self.n_convs = len(convs)
        self.in_rows = sum(len(c) for c in convs)
        self.in_text_bytes = self.job_in_bytes = sum(_text_bytes(c) for c in convs)

    def _sample_convs(self, candidates: list[str]) -> list[str]:
        rng = random.Random(f"check:{self.seed}")
        return rng.sample(sorted(candidates), min(CHECK_SAMPLE, len(candidates)))

    def _reference_turns(self, convs: list[str]) -> dict[str, list[tuple]]:
        """Input (turn_idx, text) per sampled conversation, in turn order."""
        rows = (
            self.spark.read.parquet(self.corpus)
            .where(F.col("conv_id").isin(convs))
            .select("conv_id", "turn_idx", "text")
            .collect()
        )
        out: dict[str, list[tuple]] = {c: [] for c in convs}
        for r in rows:
            out[r["conv_id"]].append((r["turn_idx"], r["text"]))
        return {c: sorted(t) for c, t in out.items()}

    # the closed loop ----------------------------------------------------
    def prepare(self, i: int) -> None:
        """Untimed per-job preparation."""

    def run(self, i: int) -> JobOut:
        raise NotImplementedError

    def check(self, i: int, out: JobOut) -> list[str]:
        """Problems with job ``i``'s output (empty when correct). The first
        job's digest becomes the reference every later job must repeat."""
        if self.ref_digest is None:
            self.ref_digest = out.digest
        if out.digest != self.ref_digest:
            return [f"job {i}: output digest {out.digest} != {self.ref_digest}"]
        return []

    def final_check(self) -> list[str]:
        """Deeper, untimed check of the last job's output."""
        return []


class PayloadMix(Workload):
    """run_pipeline over the generator's own mix (pdf/html/layout payloads
    in ~4% of turns), to a noop sink."""

    name = "payload_mix"
    sizes = {"full": 25_000, "smoke": 600}
    warmups = {"full": 4, "smoke": 1}
    _cols = ["conv_id", "n_turns", "conversation_markdown", "total_pages",
             "problem_turns", "repaired_pages"]

    def run(self, i: int) -> JobOut:
        obs = Observation(f"{self.name}{i}")
        out = run_pipeline(self.spark.read.parquet(self.corpus))
        out = out.observe(obs, *_digest_aggs(self._cols, "conversation_markdown"))
        out.write.format("noop").mode("overwrite").save()
        m = obs.get
        return JobOut(self.in_rows, m["bytes"], (m["rows"], m["digest"]))

    def check(self, i: int, out: JobOut) -> list[str]:
        problems = super().check(i, out)
        if out.digest[0] != self.n_convs:
            problems.append(f"job {i}: {out.digest[0]} conversations out, "
                            f"{self.n_convs} in")
        return problems

    def final_check(self) -> list[str]:
        """Per-conversation markdown byte-equal to the Python kernel plus
        combine_markdown_sections on a seeded sample of conversations."""
        convs = self._sample_convs([_conv_id(c) for c in range(self.n_convs)])
        ref = self._reference_turns(convs)
        got = {
            r["conv_id"]: r
            for r in run_pipeline(self.spark.read.parquet(self.corpus))
            .where(F.col("conv_id").isin(convs))
            .collect()
        }
        problems = []
        for c in convs:
            want = combine_markdown_sections(
                [extract_turn(text)["extracted_text"] for _, text in ref[c]]
            )
            row = got.get(c)
            if row is None:
                problems.append(f"{c}: missing from the output")
            elif row["conversation_markdown"] != want:
                problems.append(f"{c}: markdown differs from the kernel's")
            elif row["n_turns"] != len(ref[c]):
                problems.append(f"{c}: n_turns {row['n_turns']} != {len(ref[c])}")
        return problems


class ResumeChat(Workload):
    """run_resumable over a chat-only corpus, starting from a committed
    manifest that marks half of the buckets done."""

    name = "resume_chat"
    # (buckets filled per half, conversations per bucket)
    sizes = {"full": (DEFAULT_N_BUCKETS // 2, 2), "smoke": (3, 1)}
    warmups = {"full": 4, "smoke": 1}
    half = DEFAULT_N_BUCKETS // 2
    # the generator's mean chat-only conversation length, in turns
    mean_turns = 38.7

    def _bucket_of(self, n: int) -> int:
        """The program's own ``with_bucket`` of conversation ``n``, computed
        for 4096 conversation ids at a time."""
        if _conv_id(n) not in self._bucket:
            ids = self.spark.createDataFrame(
                [(_conv_id(c),) for c in range(n, n + 4096)], "conv_id string"
            )
            self._bucket.update(with_bucket(ids).collect())
        return self._bucket[_conv_id(n)]

    def _pick(self) -> list[list[dict]]:
        """Chat-only conversations, ``per`` in each of ``k`` buckets of each
        half, with each half's turns within 1% of ``k * per * mean_turns``.

        The conversation and bucket counts set how many part files a job
        writes, and the turn count how much text it moves: both are fixed
        so that the work per job does not hang on the seed. Buckets fill in
        the generator's order; once a half is full, a later conversation
        takes the place of one in its bucket when that brings the half's
        turn total closer to the target."""
        k, per = self.scale
        target = round(k * per * self.mean_turns)
        tol = max(target // 100, 5)
        chosen: dict[int, list[tuple[int, list[dict]]]] = {}
        total = [0, 0]
        filled = [0, 0]

        def done(h: int) -> bool:
            return filled[h] == k * per and abs(total[h] - target) <= tol

        n = 0
        while not (done(0) and done(1)):
            b = self._bucket_of(n)
            h = int(b >= self.half)
            convs = chosen.setdefault(b, [])
            if b - h * self.half < k and (
                len(convs) < per or filled[h] == k * per and not done(h)
            ):
                conv = _chat_only(conv_turns(n, self.seed))
                if conv and len(convs) < per:
                    convs.append((n, conv))
                    total[h] += len(conv)
                    filled[h] += 1
                elif conv and filled[h] == k * per:
                    gap = total[h] - target
                    j = min(range(per),
                            key=lambda j: abs(gap - len(convs[j][1]) + len(conv)))
                    new_gap = gap - len(convs[j][1]) + len(conv)
                    if abs(new_gap) < abs(gap):
                        total[h] += new_gap - gap
                        convs[j] = (n, conv)
            n += 1
            if n > 1_000_000:
                raise RuntimeError("resume_chat: no corpus meets the targets")
        # generator order, so that buckets mix within each input partition
        return [c for _n, c in sorted(x for convs in chosen.values() for x in convs)]

    def build(self) -> None:
        self._bucket: dict[str, int] = {}
        convs = self._pick()
        _write(self.spark, self.corpus, [t for c in convs for t in c])
        self._input_stats(convs)
        pending = [c for c in convs if self._bucket[c[0]["conv_id"]] >= self.half]
        self.pending_rows = sum(len(c) for c in pending)
        self.job_in_bytes = sum(_text_bytes(c) for c in pending)
        self.all_buckets = {self._bucket[c[0]["conv_id"]] for c in convs}
        self.sample = self._sample_convs([c[0]["conv_id"] for c in pending])

        # the committed starting state: buckets below `half` are done
        tmpl = os.path.join(self.work, "template")
        bucketed = with_bucket(self.spark.read.parquet(self.corpus))
        run_resumable(
            self.spark,
            bucketed.where(F.col(BUCKET_COL) < self.half).drop(BUCKET_COL),
            os.path.join(tmpl, "out"),
            os.path.join(tmpl, "manifest"),
            "template",
        )
        shutil.rmtree(os.path.join(tmpl, "out"))
        self.manifest_template = os.path.join(tmpl, "manifest")

    def _job_dir(self, i: int) -> str:
        return os.path.join(self.work, "resume", f"job{i}")

    def prepare(self, i: int) -> None:
        shutil.rmtree(self._job_dir(i - 1), ignore_errors=True)
        shutil.copytree(
            self.manifest_template, os.path.join(self._job_dir(i), "manifest")
        )
        self.last_job = i

    def run(self, i: int) -> JobOut:
        d = self._job_dir(i)
        n = run_resumable(
            self.spark, self.spark.read.parquet(self.corpus),
            os.path.join(d, "out"), os.path.join(d, "manifest"), f"job{i}",
        )
        return JobOut(n)

    def check(self, i: int, out: JobOut) -> list[str]:
        d = self._job_dir(i)
        _files, out.out_bytes = data_files(os.path.join(d, "out"))
        problems = []
        if out.turns != self.pending_rows:
            problems.append(f"job {i}: processed {out.turns} rows, "
                            f"{self.pending_rows} pending")
        done = {
            r[0] for r in self.spark.read.parquet(os.path.join(d, "manifest"))
            .where(F.col("status") == "done").select(BUCKET_COL).distinct()
            .collect()
        }
        if done != self.all_buckets:
            problems.append(f"job {i}: manifest holds {len(done)} buckets, "
                            f"input has {len(self.all_buckets)}")
        return problems

    def final_check(self) -> list[str]:
        """Read back the sampled conversations' rows and check text and
        spans against the Python kernel."""
        ref = self._reference_turns(self.sample)
        out = os.path.join(self._job_dir(self.last_job), "out")
        got: dict[tuple, object] = {
            (r["conv_id"], r["turn_idx"]): r
            for r in self.spark.read.parquet(out)
            .where(F.col("conv_id").isin(self.sample)).collect()
        }
        problems = []
        for c in self.sample:
            if sum(1 for k in got if k[0] == c) != len(ref[c]):
                problems.append(f"{c}: row count differs from the input")
            for idx, text in ref[c]:
                row = got.get((c, idx))
                want = extract_turn(text)
                if row is None:
                    problems.append(f"{c}/{idx}: missing")
                elif row["extracted_text"] != want["extracted_text"]:
                    problems.append(f"{c}/{idx}: text differs")
                elif [(s["offset"], s["length"]) for s in row["spans"]] != [
                    tuple(s) for s in want["spans"]
                ]:
                    problems.append(f"{c}/{idx}: spans differ")
        return problems[:10]


def data_files(path: str) -> tuple[int, int]:
    """(count, bytes) of the parquet part files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-") and f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


WORKLOADS = {w.name: w for w in (PayloadMix, ResumeChat)}
