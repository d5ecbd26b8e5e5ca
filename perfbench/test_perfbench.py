"""The benchmark's own tests: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


# ---- generator determinism -------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda s: {"documents": gen.corpus(s, n_docs=400)},
    lambda s: {"wave": gen.wave_docs(s, 3)},
])
def test_tables_are_a_function_of_the_seed(make):
    a, b, c = make(7), make(7), make(8)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not all(a[k].equals(c[k]) for k in a)


def test_dml_steps_are_a_function_of_the_seed():
    assert gen.insert_batch(7, 0) == gen.insert_batch(7, 0)
    assert gen.insert_batch(7, 0) != gen.insert_batch(7, 10)
    assert gen.dml_predicate(7, 5) == gen.dml_predicate(7, 5)


def test_corpus_near_duplicate_fraction():
    t = gen.corpus(5, n_docs=1000, near_dup_fraction=0.2)
    norm = [" ".join(w.strip(",;!").lower() for w in s.split())
            for s in t["text"].to_pylist()]
    assert t.num_rows == 1000
    assert len(norm) - len(set(norm)) == 200


# ---- percentile and sample-count rule --------------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0.5) == 3.0
    assert stats.percentile(xs, 0.9) == pytest.approx(4.6)
    assert stats.percentile([2.0], 0.9) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.tail_count(100, 0.9) == 10
    assert stats.tail_ok(100, 0.9)
    assert not stats.tail_ok(99, 0.9)
    assert stats.tail_ok(20, 0.5)
    assert not stats.tail_ok(19, 0.5)


# ---- metric names ----------------------------------------------------------

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_metric_names_and_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == \
        ["curation_batch", "ingest_dml"]
    for name in [*e2e, *layer]:
        assert NAME_RE.fullmatch(name), name


# ---- output checkers catch an injected wrong row ---------------------------

def test_table_checker_catches_a_wrong_row():
    m = gen.TableModel()
    m.insert([{"k": 1, "v": 10, "tag": "a"}, {"k": 2, "v": 20, "tag": "b"}])
    assert checks.compare_summary((2, 30, 2), m.summary()) == []
    assert checks.compare_summary((2, 31, 2), m.summary())     # wrong value
    assert checks.compare_summary((3, 30, 3), m.summary())     # extra row


def test_table_model_follows_dml():
    m = gen.TableModel()
    m.insert([{"k": k, "v": 1, "tag": "a"} for k in range(10)])
    assert m.update_add(5, 0, 2) == 2            # k = 0, 5
    assert m.delete(3, 0) == 4                   # k = 0, 3, 6, 9
    assert m.summary() == (6, 6 + 2, 9)          # k=9 (id 10) deleted
    m.insert([{"k": 99, "v": 0, "tag": "b"}])
    assert max(m.rows) == 10                     # max(id) + 1 reused


def test_store_checker_catches_a_wrong_row():
    docs = gen.wave_docs(1, 0)
    model = gen.StoreModel()
    model.add_wave(docs)
    got = dict(model.report)
    assert checks.compare_mapping("report", got, model.report) == []
    src, (n, c) = next(iter(got.items()))
    got[src] = (n, c + 1)
    assert checks.compare_mapping("report", got, model.report)


def test_filtered_read_checker_catches_a_wrong_row():
    m = gen.TableModel()
    m.insert([{"k": k, "v": k, "tag": "a"} for k in range(10)])
    want = m.filtered(6)
    assert want == {"n": 3, "s": 7 + 8 + 9}
    assert checks.compare_mapping("read", {"s": 24, "n": 3}, want) == []
    assert checks.compare_mapping("read", {"n": 3, "s": 25}, want)
    assert checks.compare_mapping("read", {"n": 4, "s": 24}, want)


def test_c4_model():
    good = "a b c d e."
    assert gen.c4_model("\n".join([good] * 3)) == "\n".join([good] * 3)
    assert gen.c4_model("\n".join([good, "x y.", good, "no end mark here "
                                   "at all", good])) == "\n".join([good] * 3)
    assert gen.c4_model("\n".join([good, good, "x y z."])) is None


def test_datacard_checker_catches_a_wrong_row():
    card = [("test", 7, 100, 0.1433, 0.1525), ("train", 7, 900, 0.1429, 0.15)]
    assert checks.compare_datacard(list(reversed(card)), card) == []
    bad = [card[0], ("train", 7, 901, 0.1429, 0.15)]
    assert checks.compare_datacard(bad, card)
    assert checks.compare_datacard(card[:1], card)
    off = [card[0], ("train", 7, 900, 0.1431, 0.15)]
    assert checks.compare_datacard(off, card)
    assert checks.compare_datacard(off, card, tol=1e-3) == []


def test_c4_model_matches_the_library_gate():
    """The stream model's C4 rule agrees with ``text.c4_clean`` on the
    generated crawl docs, so the ingest check grades the library."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from preql_spark.operators.text import c4_clean
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    docs = gen.wave_docs(4, 0)
    try:
        got = {r["doc_id"]: r["clean"] if r["keep"] else None
               for r in c4_clean(spark.createDataFrame(docs.to_pandas()))
               .collect()}
    finally:
        spark.stop()
    want = {i: gen.c4_model(t) for i, t in
            zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())}
    assert got == want
    assert any(v is None for v in want.values())
    assert any(v is not None for v in want.values())
