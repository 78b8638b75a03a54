"""Seeded transcript inputs and the per-turn correctness gate.

The seed only chooses which conversation indices feed
``generator.make_turn``; turn counts come from ``generator.conv_sizes``
(position 0 is the hot conversation at its default 100x the median), so
every seed yields the same volume and skew with different payloads.
``generator.SEED`` is never touched: Spark's Python workers re-import it.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

from unraveldocs_spark import generator as G
from unraveldocs_spark.oracle import extract_turn

CONV_SPACE = 1_000_000  # conversation indices are drawn from [2, CONV_SPACE)
_MASK = (1 << 64) - 1


def conv_indices(seed: int, n: int, stream: int = 0, exclude=()) -> list[int]:
    """``n`` distinct conversation indices drawn from the seed.  Indices 0
    and 1 are skipped: ``make_turn`` gives conversation 1 an oversize
    payload."""
    out, seen = [], set(exclude)
    i = 0
    while len(out) < n:
        c = 2 + G.mix64((seed * 0x9E3779B1 + stream * 0x85EBCA77 + i) & _MASK) % (
            CONV_SPACE - 2
        )
        i += 1
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def make_rows(spans) -> list[tuple]:
    """Rows ``(conv_id, turn_idx, role, text, tool, ts)`` for every
    ``(conv_idx, first_turn, end_turn)`` span."""
    rows = []
    for c, lo, hi in spans:
        name = G.conv_name(c)
        for t in range(lo, hi):
            role, text, tool = G.make_turn(c, t, include_oversize=False)
            rows.append((name, t, role, text, tool, G.turn_ts(c, t)))
    return rows


def batch_spans(seed: int, n_convs: int, median_turns: int) -> list[tuple]:
    sizes = G.conv_sizes(n_convs, median_turns)
    return [(c, 0, s) for c, s in zip(conv_indices(seed, n_convs), sizes)]


def split_spans(spans, parts: int) -> list[list[tuple]]:
    """``spans`` cut into at most ``parts`` consecutive pieces with equal
    turn counts (the last may be short); a conversation can straddle two
    pieces."""
    step = -(-sum(hi - lo for _, lo, hi in spans) // parts)
    out, cur, room = [], [], step
    for c, lo, hi in spans:
        while lo < hi:
            take = min(room, hi - lo)
            cur.append((c, lo, lo + take))
            lo += take
            room -= take
            if room == 0:
                out.append(cur)
                cur, room = [], step
    if cur:
        out.append(cur)
    return out


def write_part(job: tuple) -> "Expected":
    """Generate the rows of one piece of spans, write them as one parquet
    file and return their oracle results.  Runs in a set-up worker."""
    spans, path = job
    rows = make_rows(spans)
    write_table(rows, path)
    exp = Expected()
    exp.add(rows)
    return exp


def build_input(spans, path: str, files: int, pool) -> "Expected":
    """Write the rows of ``spans`` as ``files`` parquet files under
    ``path`` and compute the oracle of every turn, one file per task of
    ``pool`` (a ``multiprocessing`` pool)."""
    os.makedirs(path, exist_ok=True)
    jobs = [
        (piece, os.path.join(path, f"part-{i:03d}.parquet"))
        for i, piece in enumerate(split_spans(spans, files))
    ]
    exp = Expected()
    for part in pool.imap_unordered(write_part, jobs):
        exp.merge(part)
    return exp


def read_rows(path: str) -> list[tuple]:
    """The rows of every parquet file under ``path``, in file order."""
    import pyarrow.parquet as pq

    rows = []
    for name in sorted(os.listdir(path)):
        cols = pq.read_table(os.path.join(path, name)).to_pydict().values()
        rows.extend(zip(*cols))
    return rows


def write_table(rows: list[tuple], path: str) -> None:
    """Write ``rows`` as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    cols = list(zip(*rows))
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_table(table, path)


def write_parquet(rows: list[tuple], path: str, files: int) -> None:
    """Write ``rows`` as ``files`` parquet files (contiguous slices) so the
    scan runs as several tasks."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        chunk = rows[i * step : (i + 1) * step]
        if chunk:
            write_table(chunk, os.path.join(path, f"part-{i:03d}.parquet"))


def _row_hash(key, value: tuple) -> int:
    data = repr((key, value)).encode("utf-8", "surrogatepass")
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")


class Expected:
    """Oracle results for a set of generated turns: one row hash per
    (conv_id, turn_idx), their order-independent digest, rule totals and
    per-conversation status counts."""

    def __init__(self):
        self.hashes: dict[tuple, int] = {}
        self.rules: Counter = Counter()
        self.convs: dict[str, list[int]] = {}
        self.digest = 0

    def add(self, rows) -> None:
        for conv_id, turn_idx, role, text, tool, _ts in rows:
            r = extract_turn(role, tool, text)
            value = (
                r.extracted_text,
                tuple(r.spans),
                r.status,
                r.error_message,
                r.content_format,
                r.rule,
                r.n_chars,
                r.n_words,
                None,
                None,
            )
            key = (conv_id, turn_idx)
            h = _row_hash(key, value)
            self.hashes[key] = h
            self.digest = (self.digest + h) & _MASK
            self.rules[r.rule] += 1
            c = self.convs.setdefault(conv_id, [0, 0, 0])
            c[0] += 1
            c[1] += r.status == "COMPLETED"
            c[2] += r.status == "FAILED"

    def merge(self, other: "Expected") -> None:
        """Add the results of ``other``, computed over different turns."""
        self.hashes.update(other.hashes)
        self.digest = (self.digest + other.digest) & _MASK
        self.rules.update(other.rules)
        for conv_id, (n, ok, bad) in other.convs.items():
            c = self.convs.setdefault(conv_id, [0, 0, 0])
            c[0] += n
            c[1] += ok
            c[2] += bad


def committed_hash(row) -> tuple[tuple, int]:
    """Key and hash of one committed extraction row (a mapping, e.g. from
    ``DataFrame.toArrow().to_pylist()``)."""
    key = (row["conv_id"], row["turn_idx"])
    value = (
        row["extracted_text"],
        tuple((s["start"], s["end"], s["kind"]) for s in row["spans"] or ()),
        row["status"],
        row["error_message"],
        row["content_format"],
        row["rule"],
        row["n_chars"],
        row["n_words"],
        row["edited_content"],
        row["edited_by"],
    )
    return key, _row_hash(key, value)


def failed_turns(rows, exp: Expected) -> int:
    """Turns whose committed row is missing, duplicated or differs from
    the oracle; unexpected rows count too.  Digest first, per-row
    attribution only on a mismatch."""
    hashed = [committed_hash(r) for r in rows]
    digest = sum(h for _, h in hashed) & _MASK
    if digest == exp.digest and len(hashed) == len(exp.hashes):
        return 0
    failed, seen = 0, set()
    for key, h in hashed:
        if key in seen or exp.hashes.get(key) != h:
            failed += 1
        seen.add(key)
    return failed + len(exp.hashes.keys() - seen)


def failed_lineage(lineage_rows, exp: Expected) -> int:
    """Distance between ``lineage_metrics`` rule-hit totals and the
    oracle's rule counts (0 when they agree)."""
    import json

    got: Counter = Counter()
    turns = 0
    for row in lineage_rows:
        got.update(json.loads(row.rule_hits or "{}"))
        turns += row.turns_processed
    diff = sum(abs(got[k] - exp.rules[k]) for k in got.keys() | exp.rules.keys())
    return diff + abs(turns - sum(exp.rules.values()))


def failed_rollup(rollup_rows, exp: Expected) -> int:
    """Turns of conversations whose rollup counts differ from the oracle."""
    failed, seen = 0, set()
    for row in rollup_rows:
        want = exp.convs.get(row.conv_id)
        seen.add(row.conv_id)
        if want != [row.total_turns, row.completed, row.failed]:
            failed += want[0] if want else row.total_turns
    return failed + sum(v[0] for k, v in exp.convs.items() if k not in seen)
