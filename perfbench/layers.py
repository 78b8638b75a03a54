"""Per-layer measurements, all taken from outside the program: spans
around calls into each module, noop-sink passes, and a single-thread
loop over the per-turn Python kernels."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from perfbench.harness import median, noop


def identity_batches(batches):
    """mapInPandas body that returns its Arrow batches unchanged."""
    yield from batches


EXTRACT_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def ladder(sessions, df, partitions: int, reps: int = 4) -> dict[str, float]:
    """Noop-sink passes over the same input, each rung adding one layer:
    scan -> +salted_repartition -> +identity mapInPandas -> +extract_stage.
    Rungs are interleaved ``reps`` times; each layer's time is the
    difference of rung medians, so the four layers sum to the full pass."""
    from unraveldocs_spark.extract import extract_stage
    from unraveldocs_spark.pipeline import salted_repartition

    def staged():
        return salted_repartition(df, partitions)

    rungs = {
        "scan": lambda: df,
        "shuffle_sort": staged,
        "arrow": lambda: staged()
        .select(*EXTRACT_COLS)
        .mapInPandas(identity_batches, df.select(*EXTRACT_COLS).schema),
        "python": lambda: extract_stage(staged()),
    }
    times: dict[str, list[float]] = {k: [] for k in rungs}
    for _ in range(reps):
        for name, build in rungs.items():
            with sessions.job_label(f"ladder:{name}"):
                t = time.monotonic()
                noop(build())
                times[name].append(time.monotonic() - t)
    m = {k: median(v) for k, v in times.items()}
    return {
        "scan.s": m["scan"],
        "pipeline.shuffle_sort_s": m["shuffle_sort"] - m["scan"],
        "extract.arrow_s": m["arrow"] - m["shuffle_sort"],
        "extract.python_s": m["python"] - m["arrow"],
    }


def extraction_pass(sessions, df, partitions: int) -> float:
    """One scan -> salted shuffle -> sort -> extract pass into the noop
    sink (the pass ``bench.py`` divides turns by)."""
    from unraveldocs_spark.extract import extract_stage
    from unraveldocs_spark.pipeline import salted_repartition

    with sessions.job_label("extraction_pass"):
        t = time.monotonic()
        noop(extract_stage(salted_repartition(df, partitions)))
        return time.monotonic() - t


def partition_skew(df, partitions: int) -> float:
    """Exact max/mean turns per task partition after salting."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.pipeline import salted_repartition

    counts = [
        r["n"]
        for r in salted_repartition(df, partitions)
        .groupBy(F.spark_partition_id())
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    return max(counts) * partitions / sum(counts)


@contextmanager
def instrument(sessions, tracer, store):
    """Wrap the calls ``run_extraction`` makes into the checkpoint and
    pipeline modules with spans.  Lazy builders are also executed once
    into the noop sink inside their span (labelled ``probe:``) so the span
    carries the layer's execution time; ``store.append`` is eager and is
    timed as called.  Everything is restored on exit."""
    from unraveldocs_spark import checkpoint, pipeline

    patches = []

    def patch(owner, attr, span_name, execute):
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                out = orig(*args, **kwargs)
                if execute:
                    with sessions.job_label(f"probe:{span_name}"):
                        noop(out)
            return out

        patches.append((owner, attr, orig, attr in vars(owner)))
        setattr(owner, attr, wrapper)

    patch(checkpoint, "resume_filter", "checkpoint.resume_filter", True)
    patch(pipeline, "partition_lineage", "pipeline.partition_lineage", True)
    patch(store, "results", "checkpoint.results_read", True)
    patch(store, "append", "checkpoint.append", False)
    try:
        yield
    finally:
        for owner, attr, orig, own in reversed(patches):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


KERNELS = (
    "oracle.extract_turn_us",
    "semantics.try_parse_envelope_us",
    "semantics.word_count_us",
    "semantics.extract_pdf_like_us",
    "semantics.strip_code_fences_us",
    "htmldom.parse_body_fragment_us",
    "sanitizer.clean_tree_self_us",
    "domwalk.html_blocks_from_body_us",
    "domwalk.plain_blocks_us",
    "domwalk.join_blocks_us",
    "pdflayout.extract_layout_us",
)


def kernel_loop(rows, reps: int = 3) -> dict[str, float]:
    """Mean microseconds per call of each per-turn Python kernel, from a
    single-thread loop over ``rows`` that follows ``oracle.extract_turn``'s
    dispatch.  Each kernel's figure is the median over ``reps`` loops."""
    from unraveldocs_spark import domwalk, htmldom, oracle, pdflayout, sanitizer
    from unraveldocs_spark import semantics as S

    clock = time.perf_counter
    samples: dict[str, list[float]] = {k: [] for k in KERNELS}
    for _ in range(reps):
        tot = {k: 0.0 for k in KERNELS + ("sanitizer.clean_tree",)}
        calls = {k: 0 for k in tot}

        def timed(key, fn, *args):
            t = clock()
            out = fn(*args)
            tot[key] += clock() - t
            calls[key] += 1
            return out

        for _conv, _turn, role, text, tool, _ts in rows:
            r = timed("oracle.extract_turn_us", oracle.extract_turn, role, tool, text)
            if r.extracted_text is not None:
                timed("semantics.word_count_us", S.word_count, r.extracted_text)
            if text is None or S.java_is_blank(text):
                continue
            env = timed("semantics.try_parse_envelope_us", S.try_parse_envelope, text)
            if role == "tool" and tool:
                timed(
                    "semantics.strip_code_fences_us",
                    S.strip_code_fences,
                    S.truncate_text(text),
                )
            elif env is not None:
                if env.kind == "pages":
                    try:
                        timed(
                            "semantics.extract_pdf_like_us",
                            S.extract_pdf_like,
                            env.pages,
                            env.ocr_pages,
                            env.start_page,
                            env.end_page,
                            env.select_pages,
                        )
                    except S.PageSelectionError:
                        pass
                elif env.kind == "layout":
                    timed("pdflayout.extract_layout_us", pdflayout.extract_layout, env.runs or [])
            elif domwalk.is_html(text):
                timed("htmldom.parse_body_fragment_us", htmldom.parse_body_fragment, text)
                body = timed("sanitizer.clean_tree", sanitizer.clean_tree, text)
                blocks = timed(
                    "domwalk.html_blocks_from_body_us", domwalk.html_blocks_from_body, body
                )
                timed("domwalk.join_blocks_us", domwalk.join_blocks, blocks)
            else:
                blocks = timed("domwalk.plain_blocks_us", domwalk.plain_blocks, text)
                timed("domwalk.join_blocks_us", domwalk.join_blocks, blocks)

        def mean_us(key):
            return tot[key] / calls[key] * 1e6 if calls[key] else 0.0

        for k in KERNELS:
            samples[k].append(mean_us(k))
        # clean_tree parses first; its self time excludes that parse
        samples["sanitizer.clean_tree_self_us"][-1] = mean_us("sanitizer.clean_tree") - mean_us(
            "htmldom.parse_body_fragment_us"
        )
    return {k: median(v) for k, v in samples.items()}
