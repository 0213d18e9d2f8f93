"""The benchmark's own tests: input generators, the digest canon, the
span arithmetic and the run statistics.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import unicodedata

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402


def _letter_runs(text: str) -> list[str]:
    """Reference tokenizer: maximal runs of Unicode letters (category L*)."""
    out, cur = [], []
    for ch in text:
        if unicodedata.category(ch).startswith("L"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def _corpus_bytes(paths) -> bytes:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.digest()


def test_same_seed_same_corpus_other_seed_other_corpus(tmp_path):
    kw = dict(n_files=3, total_bytes=64 << 10, vocab=2000)
    p1, c1 = corpus.generate(str(tmp_path / "a"), 7, **kw)
    p2, c2 = corpus.generate(str(tmp_path / "b"), 7, **kw)
    p3, c3 = corpus.generate(str(tmp_path / "c"), 8, **kw)
    assert _corpus_bytes(p1) == _corpus_bytes(p2) and c1 == c2
    assert _corpus_bytes(p1) != _corpus_bytes(p3) and c1 != c3
    assert len(p1) == 3


def test_counts_exact_with_edge_tokens(tmp_path):
    base = ["he", "don", "t", "nd", "è", "più", "sì"]
    paths, counts = corpus.generate(str(tmp_path), 3, n_files=2, total_bytes=40_000, base=base)
    text = "".join(open(p, encoding="utf-8").read() for p in paths)
    for edge in ("don't", " 2nd", "He", "è", "\n\n"):
        assert edge in text, edge
    got: dict[str, int] = {}
    for tok in _letter_runs(text):
        got[tok] = got.get(tok, 0) + 1
    assert got == counts
    assert counts["He"] > 0 and counts["he"] > counts["He"]
    lines = corpus.expected_lines(counts)
    assert lines[0] == f"he->{counts['he']}"
    pairs = [(-int(c), w) for w, c in (ln.rsplit("->", 1) for ln in lines)]
    assert pairs == sorted(pairs)


def test_vocab_is_letters_and_distinct():
    import numpy as np

    words = corpus.make_vocab(np.random.default_rng(0), 5000)
    assert len(set(words)) == 5000
    assert all(w.islower() and _letter_runs(w) == [w] for w in words)


def test_tables_seeded_and_shaped():
    a, b, c = (tables.make_tables(s, sf=0.001) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    keys = a["lineitem"].column("l_orderkey").to_pylist()
    assert 0 <= min(keys) and max(keys) < a["orders"].num_rows


def test_digest_ignores_row_and_column_order():
    import datetime

    cols = ["b", "a", "c"]
    rows = [
        (1.23456789, "x", None),
        (-0.0, "y", 3),
        (1e-9, "è", float("nan")),
        (2.5000004, "x", datetime.datetime(2024, 1, 1, 0, 0, 1)),
        (-1e-7, "z", 10**18),
    ]
    d = workloads.digest(rows, cols)
    assert workloads.digest(list(reversed(rows)), cols) == d
    perm = [2, 0, 1]
    assert workloads.digest([tuple(r[i] for i in perm) for r in rows], [cols[i] for i in perm]) == d
    # rounded to 6 places, as the oracle gate compares
    assert workloads.digest([(1.2345681, "x", None)] + rows[1:], cols) == d
    assert workloads.digest([(1.234570, "x", None)] + rows[1:], cols) != d
    assert workloads.digest(rows[:-1], cols) != d
    assert workloads.digest(rows, ["b", "a", "d"]) != d


def test_oracle_pins_match_oracle_sql():
    import json

    with open(workloads.ORACLE_PINS) as fh:
        assert json.load(fh) == workloads.pin_oracles()


def test_union_and_self_time():
    assert spans.union_s([]) == 0.0
    assert spans.union_s([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_s([(0, 10), (2, 3)]) == 10.0
    assert spans.union_s([(0, 10), (8, 12)], lo=2, hi=11) == 9.0
    assert spans.union_s([(5, 4)]) == 0.0
    parent = {"start": 10.0, "end": 20.0}
    kids = [{"start": 9.0, "end": 12.0}, {"start": 11.0, "end": 13.0}, {"start": 15.0, "end": 16.0}]
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    assert spans.self_time(parent, []) == 10.0


def test_stray_jobs():
    phase = {"start": 10.0, "end": 20.0}
    jobs = [
        {"job": 1, "start": 10.0, "end": 20.0},
        {"job": 2, "start": 9.999, "end": 20.001},  # millisecond rounding
        {"job": 3, "start": 9.99, "end": 12.0},
        {"job": 4, "start": 11.0, "end": 20.01},
        {"job": 5, "start": 11.0, "end": None},
    ]
    assert spans.stray_jobs(phase, jobs) == [3, 4, 5]
    assert spans.stray_jobs(phase, []) == []


def _stage(sid, start, end, **kw):
    st = {f: 0 for f in spans.STAGE_FIELDS}
    st.update(id=sid, status="COMPLETE", start=start, end=end, **kw)
    return st


def test_pass_layers_split_and_accounting():
    tr = spans.Tracer("pkg")
    p = tr.add("pass", {"id": None}, 0.0, 10.0)
    q = tr.add("query", p, 0.0, 9.0)
    c = tr.add("construct", q, 0.0, 4.0)
    e = tr.add("execute", q, 4.0, 9.0)
    tr.add("job", c, 1.0, 2.0, status="SUCCEEDED",
           stages=[_stage(1, 1.0, 2.0, numTasks=2, executorRunTime=1500)])
    tr.add("job", c, 1.5, 3.0, status="SUCCEEDED", stages=[_stage(2, 1.5, 3.0, numTasks=1)])
    tr.add("job", e, 4.0, 9.0, status="FAILED", stages=[
        _stage(1, 1.0, 2.0, numTasks=2),  # reused stage: counted once per pass
        _stage(3, 4.0, 8.0, numTasks=4, executorRunTime=8000, inputRecords=100,
               shuffleWriteRecords=25),
    ])
    tr.add("floor", c, 0.1, 0.2, repartitioned=False)
    tr.add("read_store", p, 9.0, 10.0)
    m = run.pass_layers(tr, p, cpus=4)
    assert m["construct.job_s"] == pytest.approx(2.0)
    assert m["construct.driver_s"] == pytest.approx(2.0)
    assert m["construct.driver_s"] + m["construct.job_s"] == pytest.approx(m["construct.wall_s"])
    assert m["construct.tasks"] == 3 and m["construct.task_run_s"] == pytest.approx(1.5)
    assert m["execute.stages"] == 1 and m["execute.tasks"] == 4
    assert m["execute.slot_busy"] == pytest.approx(8.0 / (4 * 4.0))
    assert m["shuffle.combine_ratio"] == pytest.approx(0.25)
    assert m["jobs.failed"] == 1 and m["floor.calls"] == 1 and m["floor.repartitions"] == 0
    assert m["pass.unaccounted_s"] == pytest.approx(0.0)
    assert run.pass_stray_jobs(tr, p) == []
    e["stray_jobs"] = [7]
    assert run.pass_stray_jobs(tr, p) == [7]


def test_summary_and_tail():
    s = run.summary([3.0, 1.0, 2.0, 4.0])
    assert s["median"] == 2.5 and s["n"] == 4 and s["q1"] <= s["median"] <= s["q3"]
    t = run.tail([float(i) for i in range(1, 31)])
    assert t["value"] == 20.0 and t["beyond"] == 10 and t["n"] == 30
    assert run.tail([5.0, 1.0]) == {"value": 5.0, "percentile": 100.0, "n": 2, "beyond": 0}
    assert run.measured_passes(workloads.WordcountCorpus, 12) == 3
    assert run.measured_passes(workloads.Relational, 1) == 2


def test_wordcount_matches_generator(tmp_path):
    """The engine's word count equals the generator's exact counts."""
    pytest.importorskip("pyspark")
    from mapreduce_faultolerrant_localityaware_spark.operators.wordcount import wordcount
    from mapreduce_faultolerrant_localityaware_spark.session import get_spark

    base = ["he", "don", "t", "nd", "è", "più"]
    paths, counts = corpus.generate(str(tmp_path), 4, n_files=2, total_bytes=20_000, base=base)
    spark = get_spark("perfbench-test", shuffle_partitions=4)
    rows = wordcount(spark, paths, sort=True).collect()
    assert [f"{r['word']}->{r['count']}" for r in rows] == corpus.expected_lines(counts)


def test_benchmark_json_names_what_run_prints():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
