"""Input generation is a pure function of the seed, and the correctness
gate catches missing, duplicated and wrong rows."""

import os
from collections import namedtuple

import pytest

from perfbench import transcripts as T


def test_same_seed_same_rows():
    a = T.make_rows(T.batch_spans(7, 12, 10))
    b = T.make_rows(T.batch_spans(7, 12, 10))
    assert a == b
    assert len(a) == sum(hi - lo for _, lo, hi in T.batch_spans(7, 12, 10))


def test_seed_changes_conversations_not_volume():
    a = T.batch_spans(7, 12, 10)
    b = T.batch_spans(8, 12, 10)
    assert [c for c, _, _ in a] != [c for c, _, _ in b]
    assert [hi for _, _, hi in a] == [hi for _, _, hi in b]


def test_conv_indices_distinct_and_skip_oversize_convs():
    idx = T.conv_indices(3, 500)
    assert len(set(idx)) == 500
    assert min(idx) >= 2


def test_split_spans_keeps_every_turn_once():
    spans = T.batch_spans(7, 12, 10)
    pieces = T.split_spans(spans, 5)
    assert len(pieces) <= 5
    sizes = [sum(hi - lo for _, lo, hi in p) for p in pieces]
    assert len(set(sizes[:-1])) == 1 and sizes[-1] <= sizes[0]
    assert T.make_rows([s for p in pieces for s in p]) == T.make_rows(spans)


class _SerialPool:
    imap_unordered = staticmethod(map)


def test_built_input_matches_rows_and_oracle(tmp_path):
    spans = T.batch_spans(7, 12, 10)
    exp = T.build_input(spans, str(tmp_path), 3, _SerialPool())
    rows = T.make_rows(spans)
    assert T.read_rows(str(tmp_path)) == rows
    whole = T.Expected()
    whole.add(rows)
    assert (exp.hashes, exp.digest, exp.rules, exp.convs) == (
        whole.hashes,
        whole.digest,
        whole.rules,
        whole.convs,
    )


def test_operator_tables_are_the_fixture():
    import pyarrow.parquet as pq

    from perfbench.workloads import FIXTURE
    from tools.check_correctness import TABLES

    for t in TABLES:
        meta = pq.ParquetFile(os.path.join(FIXTURE, f"{t}.parquet")).metadata
        assert meta.num_row_groups == 1
    assert pq.ParquetFile(os.path.join(FIXTURE, "lineitem.parquet")).metadata.num_rows == 60000


def _committed(rows):
    """Rows as the store's Arrow read-back returns them, computed by the
    oracle."""
    from unraveldocs_spark.oracle import extract_turn

    out = []
    for conv_id, turn_idx, role, text, tool, _ in rows:
        r = extract_turn(role, tool, text)
        out.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "extracted_text": r.extracted_text,
                "spans": [{"start": s, "end": e, "kind": k} for s, e, k in r.spans],
                "status": r.status,
                "error_message": r.error_message,
                "content_format": r.content_format,
                "rule": r.rule,
                "n_chars": r.n_chars,
                "n_words": r.n_words,
                "edited_content": None,
                "edited_by": None,
            }
        )
    return out


@pytest.fixture(scope="module")
def sample():
    rows = T.make_rows(T.batch_spans(11, 6, 8))
    exp = T.Expected()
    exp.add(rows)
    return exp, _committed(rows)


def test_gate_passes_exact_rows_in_any_order(sample):
    exp, good = sample
    assert T.failed_turns(good, exp) == 0
    assert T.failed_turns(list(reversed(good)), exp) == 0


def test_gate_counts_missing_duplicate_and_wrong_rows(sample):
    exp, good = sample
    assert T.failed_turns(good[1:], exp) == 1
    assert T.failed_turns(good + good[:2], exp) == 2
    wrong = {**good[3], "n_words": good[3]["n_words"] + 1}
    assert T.failed_turns(good[:3] + [wrong] + good[4:], exp) == 1


def test_rule_totals_gate(sample):
    exp, _ = sample
    Lineage = namedtuple("Lineage", "rule_hits turns_processed")
    import json

    total = sum(exp.rules.values())
    assert T.failed_lineage([Lineage(json.dumps(dict(exp.rules)), total)], exp) == 0
    off = dict(exp.rules)
    rule = next(iter(off))
    off[rule] += 1
    assert T.failed_lineage([Lineage(json.dumps(off), total + 1)], exp) == 2
