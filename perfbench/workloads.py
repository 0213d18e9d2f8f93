"""The benchmark's workloads: inputs made from the seed, the queries of
one pass, and the output checks.

Each workload offers

- ``prepare()``: make the inputs and the exact expected answers
  (untimed, before Spark starts);
- ``pass_items(rng)``: the ``(name, build, execute)`` triples of one
  pass, in the order ``rng`` draws — ``build(spark)`` constructs the
  query (the construct phase) and ``execute(df)`` runs it to its sink
  (the execute phase);
- ``checks(spark)``: the output checks, each ``(name, ok, detail)``;
- ``warmup_passes``: warm passes run after the cold one and left out of
  every metric, the steep part of the JIT warm-up curve;
- ``nominal_pass_s``: a warm pass's wall time after the warm-up on the
  reference host (4 vCPUs), which turns ``--seconds`` into a fixed
  number of measured passes;
- ``check_last_pass``: whether the checks also run after a session's
  last pass (they always run after its cold pass).
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import json
import os
import shutil

import corpus
import tables

PACKAGE = "mapreduce_faultolerrant_localityaware_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ORACLE_PINS = os.path.join(HERE, "oracle_pins.json")


def _oracle_gate():
    """``tools/check_oracle.py``, the repository's oracle gate."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: order-insensitive canonical form of a result (columns by name, floats
#: rounded to 6 places, rows sorted), taken from the oracle gate itself
canon = _oracle_gate().canon


def digest(rows, cols) -> str:
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in canon(rows, cols):
        h.update(repr(r).encode())
    return h.hexdigest()


def sql_hash(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def noop_sink(df) -> None:
    """Evaluate every output column without pulling rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


class WordcountCorpus:
    """The reference pipeline on a seeded Zipf corpus, written through
    ``sources.sinks.write_tokens`` and checked against the generator's
    exact counts."""

    name = "wordcount_corpus"
    #: about 32 MiB of text in 2 x nproc files
    total_bytes = 32 << 20
    warmup_passes = 1
    nominal_pass_s = 2.0
    #: reading the sink back costs 0.1 s
    check_last_pass = True

    def __init__(self, workdir: str, seed: int, nproc: int):
        self.dir = os.path.join(workdir, "corpus")
        self.out = os.path.join(workdir, "tokens")
        self.seed, self.nproc = seed, nproc

    def prepare(self) -> dict:
        self.files, counts = corpus.generate(self.dir, self.seed, 2 * self.nproc, self.total_bytes)
        self.expected = corpus.expected_lines(counts)
        return {"files": len(self.files), "bytes": sum(map(os.path.getsize, self.files)),
                "distinct_words": len(counts), "tokens": sum(counts.values())}

    def pass_items(self, rng):
        from mapreduce_faultolerrant_localityaware_spark.operators import wordcount
        from mapreduce_faultolerrant_localityaware_spark.sources import sinks

        return [(
            "wordcount",
            lambda spark: wordcount.wordcount(spark, self.files, sort=True),
            lambda df: sinks.write_tokens(df, self.out),
        )]

    def sink_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.out, "part-*")))

    def checks(self, spark):
        lines = []
        for path in self.sink_files():
            with open(path, encoding="utf-8") as fh:
                lines += fh.read().splitlines()
        ok = lines == self.expected
        detail = f"{len(lines)} lines, expected {len(self.expected)}"
        if not ok:
            bad = next((i for i, (a, b) in enumerate(zip(lines, self.expected)) if a != b),
                       min(len(lines), len(self.expected)))
            detail += f"; first difference at line {bad}"
        return [("sink_vs_generator", ok, detail)]

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)


class Relational:
    """Execute-bound sf0.1 relational queries on seeded tables, written
    to the ``noop`` sink and checked against DuckDB running the
    package's ``oracle_sql()``."""

    name = "relational"
    queries = ("tpch_q1", "tpch_q3", "join_large", "roc_auc")
    sf = 0.1
    #: the checks after the cold pass re-run every query: that is the
    #: warm-up, so the measured passes start at the second run of each
    #: query after the cold one
    warmup_passes = 0
    nominal_pass_s = 3.0
    check_last_pass = False

    def __init__(self, workdir: str, seed: int, nproc: int):
        self.dir = os.path.join(workdir, "tables")
        self.seed, self.nproc = seed, nproc

    def prepare(self) -> dict:
        import duckdb

        import __spark_entry__ as entry

        tables.write_tables(self.dir, self.seed, self.sf)
        oracles = entry.oracle_sql()
        with open(ORACLE_PINS) as fh:
            pins = json.load(fh)
        con = duckdb.connect()
        con.execute(f"SET threads={self.nproc}")
        for t in self._row_counts():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        # expected answers, or why there is none
        self.expected: dict[str, tuple[str | None, str]] = {}
        for q in self.queries:
            sql = oracles.get(q)
            if sql is None or pins.get(q) != sql_hash(sql):
                self.expected[q] = (None, "oracle SQL missing or differs from its pinned hash")
                continue
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self.expected[q] = (digest(rows, cols), f"{len(rows)} rows")
        con.close()
        self._builders = {q: entry.queries()[q] for q in self.queries}
        return {"sf": self.sf, "rows": self._row_counts()}

    def _row_counts(self) -> dict[str, int]:
        import pyarrow.parquet as pq

        return {os.path.splitext(f)[0]: pq.ParquetFile(os.path.join(self.dir, f)).metadata.num_rows
                for f in sorted(os.listdir(self.dir))}

    def pass_items(self, rng):
        order = rng.sample(self.queries, len(self.queries))
        return [(q, lambda spark, q=q: self._builders[q](spark, self.dir), noop_sink) for q in order]

    def checks(self, spark):
        out = []
        for q in self.queries:
            want, why = self.expected[q]
            if want is None:
                out.append((q, False, why))
                continue
            df = self._builders[q](spark, self.dir)
            got = digest([tuple(r) for r in df.collect()], df.columns)
            out.append((q, got == want, why if got == want else f"digest {got[:12]} != {want[:12]}"))
        return out

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (WordcountCorpus, Relational)}


def pin_oracles() -> dict[str, str]:
    """The hash of each relational query's oracle SQL, as pinned."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    return {q: sql_hash(oracles[q]) for q in Relational.queries}
