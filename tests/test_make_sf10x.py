"""scripts/make_sf10x.py — the deterministic 10x corpus behind every growth
leg. pyarrow only: the upscaler must be correct before any timing on its
output means anything."""

from __future__ import annotations

import importlib.util
import os
import string
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "make_sf10x.py"
)


def _load_script():
    spec = importlib.util.spec_from_file_location("make_sf10x", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def sf10x(tmp_path_factory, sf_dir):
    mod = _load_script()
    dst = str(tmp_path_factory.mktemp("sf10x"))
    argv = sys.argv
    sys.argv = ["make_sf10x.py", sf_dir, dst]
    try:
        mod.main()
    finally:
        sys.argv = argv
    return mod, dst


def _read(d, name):
    return pq.read_table(os.path.join(d, f"{name}.parquet"))


def _rotate(text, c):
    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    return text.translate(str.maketrans(
        lower + upper, lower[c:] + lower[:c] + upper[c:] + upper[:c]))


def test_fact_tables_are_ten_copies_and_dims_unchanged(sf10x, sf_dir):
    mod, dst = sf10x
    for fname in sorted(os.listdir(sf_dir)):
        if not fname.endswith(".parquet"):
            continue
        name = fname[: -len(".parquet")]
        src, out = _read(sf_dir, name), _read(dst, name)
        if name in ("region", "nation"):
            assert out.equals(src), name
        else:
            assert out.num_rows == 10 * src.num_rows, name


def test_per_copy_offsets_keep_foreign_keys(sf10x, sf_dir):
    mod, dst = sf10x
    orders, customer = _read(dst, "orders"), _read(dst, "customer")
    lineitem = _read(dst, "lineitem")
    assert set(orders["o_custkey"].to_pylist()) <= set(customer["c_custkey"].to_pylist())
    assert set(lineitem["l_orderkey"].to_pylist()) <= set(orders["o_orderkey"].to_pylist())

    # copy c occupies [c*OFF, (c+1)*OFF) in every key column, so a row's
    # foreign key points into its own copy
    def copy_of(col):
        return pc.divide(col, mod.OFF).to_pylist()

    assert sorted(set(copy_of(orders["o_orderkey"]))) == list(range(10))
    assert copy_of(orders["o_custkey"]) == copy_of(orders["o_orderkey"])
    for table, col in [("orders", "o_orderkey"), ("orders", "o_custkey"),
                       ("lineitem", "l_orderkey"), ("customer", "c_custkey")]:
        n_src = len(set(_read(sf_dir, table)[col].to_pylist()))
        assert len(set(_read(dst, table)[col].to_pylist())) == 10 * n_src, col


def test_documents_text_rotated_per_copy(sf10x, sf_dir):
    mod, dst = sf10x
    src = _read(sf_dir, "documents").to_pydict()
    out = _read(dst, "documents").to_pydict()
    base = dict(zip(src["doc_id"], src["text"]))
    n_changed = 0
    for doc_id, text in zip(out["doc_id"], out["text"]):
        c, orig = divmod(doc_id, mod.OFF)
        expect = base[orig]
        assert text == (_rotate(expect, c) if expect is not None else None)
        n_changed += c > 0 and text != expect
    # every later copy is a different corpus, not a run of exact duplicates
    assert n_changed >= 9 * len(base) * 0.9
    assert len(set(out["doc_id"])) == len(out["doc_id"])


def test_done_marker(sf10x):
    _, dst = sf10x
    assert os.path.exists(os.path.join(dst, "_DONE"))
