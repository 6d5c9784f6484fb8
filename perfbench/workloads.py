"""The benchmark's two workloads.

Each workload builds its inputs from the seed during set-up, then runs a
fixed number of iterations.  An iteration issues the workload's jobs one
at a time through the package's public entry points (one client, closed
loop), checks every output, and records its walls.  Each iteration ends
with a follow-up job that takes in a fresh seeded slice a quarter the
size of the main input; its wall is ``resume_s``.

* ``html_pages``: HTML pages through ``extract_pages`` into an
  order-independent count/length/size/digest aggregate, no write.  The
  HTML kernel (``functions.htmlmain``) is most of the stage wall, so
  kernel, Arrow-boundary and exchange changes show; decode, postprocess
  and snapshot writing do no work.  The slice job extracts the slice.
* ``pdf_commit``: multi-page stub-PDF payloads through
  ``run_extraction`` into a fresh output directory (data, lineage
  metrics, manifest commit).  Decode, postprocess and the pipeline's
  write/commit path do the work; ``htmlmain`` does none.  The slice job
  is a resume run over main input plus slice on the same directory.

The six registry queries are timed by a per-layer probe in the traced
run of ``html_pages`` (see ``layers.registry_layers``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import functions as F

from deepseek_ocr_2_spark.operators.extract import ExtractConfig, extract_pages
from deepseek_ocr_2_spark.plans.pipeline import committed_results, run_extraction
from deepseek_ocr_2_spark.sources.corpus import HOT_HOST

from . import check, gen
from .sparkenv import PeakRss
from .trace import Tracer

BASE_TEXTS = 5000
SETUP_CHUNKS = 4  # main input chunks; the slice is one more chunk


@dataclass
class Run:
    """State of one benchmark run and everything it measured."""

    spark: object  # set once the session is up
    tracer: Tracer
    work: str
    seed: int
    rss: Optional[PeakRss]
    cfg: ExtractConfig = field(
        default_factory=lambda: ExtractConfig(num_buckets=64, static_hot_hosts=(HOT_HOST,))
    )
    # per-iteration end-to-end samples
    resume_s: List[float] = field(default_factory=list)
    docs_per_s: List[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    # per-layer samples recorded while iterating, keyed by metric name
    layer: Dict[str, List[float]] = field(default_factory=dict)

    def timed(self, name: str, fn: Callable):
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def clear_samples(self) -> None:
        """Drop what warm-up iterations recorded; their checks still count."""
        for samples in (self.resume_s, self.docs_per_s):
            samples.clear()
        self.layer.clear()

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            print(f"check failed: {what} ({n})", flush=True)


def first_doc_id(seed: int) -> int:
    """Seeded id base; a multiple of 10 keeps the corpus's mod-10 rules
    (hot-host share, planted EOS misses) exact in every input."""
    return 1_000_000 + 10 * int(gen.rng_for(seed, "ids").integers(0, 100_000))


def _tree_stats(path: str) -> tuple:
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


class Extraction:
    """Shared set-up and checks of the two extraction workloads."""

    kind = ""
    main_docs = 0
    # one iteration's wall on a 4-core host: a run makes
    # round(--seconds / nominal_iter_s) iterations whatever the code's speed
    nominal_iter_s = 0.0
    # untimed iterations after set-up; the JVM still speeds up over them
    warm_iterations = 2

    def prepare(self, run: Run) -> float:
        """Generate and stage the inputs and their expected outputs in
        equal chunks, without Spark; returns the number of chunks times
        the median chunk wall."""
        chunk_n = self.main_docs // SETUP_CHUNKS
        base = gen.documents(gen.rng_for(run.seed, "base"), BASE_TEXTS)
        self.first = first_doc_id(run.seed)
        self.n_main = chunk_n * SETUP_CHUNKS
        self.n_slice = chunk_n
        self.main_dir, self.slice_dir, self.want_main_dir, self.want_slice_dir = (
            os.path.join(run.work, *p)
            for p in (("input", "main"), ("input", "slice"), ("expected", "main"), ("expected", "slice"))
        )
        self.main_bytes = 0
        self.sample = None  # the first chunk's rows, for the kernel probes
        self.want_pages = [0, 0]  # (failed, total) pages of the main input
        chunk_s: List[float] = []
        for c in range(SETUP_CHUNKS + 1):
            main = c < SETUP_CHUNKS
            part = f"part-{c:05d}.parquet"
            t0 = time.perf_counter()
            with run.tracer.span("bench.setup.chunk"):
                with run.tracer.span("bench.generate"):
                    rows = gen.pages(
                        gen.rng_for(run.seed, f"{self.kind}{c}"),
                        base, chunk_n, self.first + c * chunk_n, self.kind,
                    )
                    size = gen.write_parquet(
                        rows,
                        os.path.join(self.main_dir if main else self.slice_dir, part),
                        gen.PAGES_SCHEMA,
                    )
                with run.tracer.span("bench.expected_outputs"):
                    want = check.local_extract(rows, run.cfg)
                check.write_expected(
                    want, os.path.join(self.want_main_dir if main else self.want_slice_dir, part)
                )
            chunk_s.append(time.perf_counter() - t0)
            if main:
                self.main_bytes += size
                self.want_pages[0] += int(want["failed_pages"].sum())
                self.want_pages[1] += int(want["total_pages"].sum())
            if c == 0:
                self.sample = rows
        return len(chunk_s) * statistics.median(chunk_s)

    def warm(self, run: Run) -> None:
        """Aggregate the expected outputs; the warm iterations then take
        the one-time session costs (class loading, code generation,
        Python worker start) and the JIT's first speed-up."""
        with run.tracer.span("bench.setup.expected_digest"):
            self.want_main = self.aggregate(run.spark.read.parquet(self.want_main_dir))
            self.want_slice = self.aggregate(run.spark.read.parquet(self.want_slice_dir))

    @staticmethod
    def aggregate(df) -> tuple:
        return check.agg_tuple(check.digest_aggregate(df).collect()[0])

    def pages(self, run: Run, *dirs: str):
        return run.spark.read.parquet(*dirs)

    def verify(self, run: Run, got: tuple, want: tuple, got_df: Callable, *want_dirs: str) -> None:
        """Aggregate compare; on a mismatch, count the failing urls of
        the output ``got_df()`` rebuilds."""
        if got == want:
            return
        with run.tracer.span("bench.diagnose"):
            m = check.diagnose(got_df(), run.spark.read.parquet(*want_dirs))
        run.fail(max(1, m.total), f"extraction output {m}")

    def stage_aggregate(self, run: Run, *dirs: str) -> tuple:
        return self.aggregate(extract_pages(self.pages(run, *dirs), run.cfg))


class HtmlPages(Extraction):
    name = "html_pages"
    kind = "html"
    main_docs = 16_000
    nominal_iter_s = 3.3

    def extract(self, run: Run, sf_dir: str):
        return lambda: extract_pages(self.pages(run, sf_dir), run.cfg)

    def iteration(self, run: Run) -> None:
        got, wall = run.timed(
            "operators.extract.extract_pages", lambda: self.stage_aggregate(run, self.main_dir)
        )
        run.docs_per_s.append(self.n_main / wall)
        with run.tracer.span("bench.check"):
            self.verify(run, got, self.want_main, self.extract(run, self.main_dir), self.want_main_dir)
        got, wall = run.timed(
            "operators.extract.extract_pages.slice",
            lambda: self.stage_aggregate(run, self.slice_dir),
        )
        run.resume_s.append(wall)
        with run.tracer.span("bench.check"):
            self.verify(run, got, self.want_slice, self.extract(run, self.slice_dir), self.want_slice_dir)
        run.attempted += self.n_main + self.n_slice


class PdfCommit(Extraction):
    name = "pdf_commit"
    kind = "pdf"
    main_docs = 4_000
    nominal_iter_s = 4.3
    iter_no = 0

    def committed(self, run: Run, out: str):
        return committed_results(run.spark, out).select(*check.DIGEST_COLUMNS)

    def iteration(self, run: Run) -> None:
        self.iter_no += 1
        out = os.path.join(run.work, "out", str(self.iter_no))
        snap, wall = run.timed(
            "plans.pipeline.run_extraction",
            lambda: run_extraction(run.spark, self.pages(run, self.main_dir), out, run.cfg),
        )
        run.docs_per_s.append(self.n_main / wall)
        run.note("plans.pipeline.run_extraction_s", wall)
        files, nbytes = _tree_stats(out)
        run.note("plans.pipeline.files_written", files)
        run.note("plans.pipeline.output_bytes_per_input_byte", nbytes / self.main_bytes)
        # the snapshot's rows are checked below, as part of the committed
        # union after the resume
        with run.tracer.span("bench.check"):
            lineage = run.spark.read.parquet(
                os.path.join(out, "metrics", f"snapshot={snap.snapshot_id}")
            ).agg(
                F.sum("doc_count"), F.sum("failed_page_count"), F.sum("page_count")
            ).collect()[0]
            want = (self.n_main, *self.want_pages)
            run.fail(int(tuple(lineage) != want), f"lineage sums {tuple(lineage)} != {want}")
            run.fail(abs(snap.doc_count - self.n_main), "manifest doc_count")

        snap2, wall = run.timed(
            "plans.pipeline.run_extraction.resume",
            lambda: run_extraction(
                run.spark, self.pages(run, self.main_dir, self.slice_dir), out, run.cfg
            ),
        )
        run.resume_s.append(wall)
        run.note(
            "plans.pipeline.resume_skip_share",
            (self.n_main + self.n_slice - snap2.doc_count) / self.n_main,
        )
        with run.tracer.span("bench.check"):
            committed = self.committed(run, out)
            row = check.digest_aggregate(committed, F.countDistinct("url").alias("urls")).collect()[0]
            run.fail(row["rows"] - row["urls"], "url committed twice")
            self.verify(
                run, check.agg_tuple(row), check.merge_aggs(self.want_main, self.want_slice),
                lambda: committed, self.want_main_dir, self.want_slice_dir,
            )
            run.fail(abs(snap2.doc_count - self.n_slice), "resume doc_count")
        shutil.rmtree(out)
        run.attempted += self.n_main + self.n_slice


WORKLOADS = {w.name: w for w in (HtmlPages, PdfCommit)}
