"""tools/compare_stores.py over tiny pyarrow-written stores (no Spark)."""

from __future__ import annotations

import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "compare_stores.py",
)
_spec = importlib.util.spec_from_file_location("compare_stores", _TOOL)
compare_stores = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(compare_stores)

RANGES = {"subj": ["Q1", "Q2", "Q3"], "range_end": [4, 5, 6]}
TURNS = {"conv_id": ["c0", "c1"], "pos": [1, 2]}


def _store(root, **tables):
    os.makedirs(root)
    for name, cols in tables.items():
        os.makedirs(os.path.join(root, name))
        pq.write_table(
            pa.table(cols), os.path.join(root, name, "part-00000.parquet")
        )
    return str(root)


def _run(capsys, a, b):
    code = compare_stores.main([a, b])
    return code, capsys.readouterr().out


def test_identical_stores_exit_zero(tmp_path, capsys):
    a = _store(tmp_path / "a", ranges=RANGES, turns=TURNS)
    b = _store(tmp_path / "b", ranges=RANGES, turns=TURNS)
    code, out = _run(capsys, a, b)
    assert code == 0, out
    assert "ranges: rows A=3 B=3, differing rows 0" in out
    assert "turns: rows A=2 B=2, differing rows 0" in out


def test_one_changed_row_counts_both_directions(tmp_path, capsys):
    changed = dict(RANGES, range_end=[4, 5, 7])
    a = _store(tmp_path / "a", ranges=RANGES)
    b = _store(tmp_path / "b", ranges=changed)
    code, out = _run(capsys, a, b)
    assert code == 1, out
    assert "ranges: rows A=3 B=3, differing rows 2" in out


def test_table_in_one_store_is_listed_not_compared(tmp_path, capsys):
    a = _store(tmp_path / "a", ranges=RANGES, entity_terms=TURNS)
    b = _store(tmp_path / "b", ranges=RANGES)
    code, out = _run(capsys, a, b)
    assert code == 0, out
    assert "entity_terms: only in A, not compared" in out
    assert "entity_terms: rows" not in out


def test_differing_columns_exit_one(tmp_path, capsys):
    renamed = {"subject": RANGES["subj"], "range_end": RANGES["range_end"]}
    a = _store(tmp_path / "a", ranges=RANGES)
    b = _store(tmp_path / "b", ranges=renamed)
    code, out = _run(capsys, a, b)
    assert code == 1, out
    assert "ranges: rows A=3 B=3, columns differ" in out
