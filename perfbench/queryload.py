"""The ``llm_ops`` workload: passes over registry queries.

One pass builds every query of the workload through the registry and
runs it to the noop sink, in an order the seed shuffles. Set-up
generates the input tables, starts the DuckDB oracles in a thread and
runs one untimed pass that fetches each result and checks it against
its oracle; that pass takes the cold start (Python workers, first jobs,
most of the JIT compilation).
"""

from __future__ import annotations

import importlib.util
import os
import statistics
from concurrent.futures import ThreadPoolExecutor

import duckdb

import __spark_entry__  # noqa: F401  (importing it registers every query)
import datagen
import probes
from durable_functions_cosmosdb_etl_spark.plans import registry

# MinHash and connected-components dedup and the IVF serve (Arrow/pandas
# UDF workers, single-task stages and eager driver jobs inside the query
# builders), one text query (operators.text) and the as-of join
# (operators.asof), a JVM-only join planned as a union and a partitioned
# window. Each query runs once cold (the checked fetch) and then once per
# timed pass, so every query added costs its cold time and about two of
# its pass times.
QUERIES = (
    "dedup_minhash",
    "dedup_components",
    "similarity_ivf",
    "text_tfidf",
    "join_asof",
)


def _load_checker(repo: str):
    """The repo's own oracle comparator, imported unchanged."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(repo, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _as_rows(pdf) -> tuple[list[str], list[tuple]]:
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]


class QueryWorkload:
    def __init__(self, run) -> None:
        self.run = run
        self.names = QUERIES
        self.fns = {n: registry.QUERIES[n] for n in QUERIES}
        self.oracles = registry.ORACLES
        self.data_dir = os.path.join(run.work, "tables")
        self.rows: dict[str, int] = {}
        self._pool = ThreadPoolExecutor(1)
        self._oracle_results = None

    # ------------------------------------------------------------ set-up

    def prepare(self) -> None:
        """Generate the tables and start the DuckDB oracles in a thread.

        The oracles need only the tables, so they run while Spark starts
        and makes its warm pass; the timed passes begin after they end.
        """
        self.rows = datagen.generate(self.data_dir, self.run.seed, self.run.scale)
        self._oracle_results = self._pool.submit(self._run_oracles)

    def _run_oracles(self) -> dict:
        con = duckdb.connect()
        # two threads: the oracles overlap Spark's start and warm pass,
        # which leave most cores idle, without starving them
        con.execute("SET threads TO 2")
        try:
            for t in self.rows:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t)}.parquet'"
                )
            out = {}
            for name in self.names:
                if name not in self.oracles:
                    continue
                try:
                    pdf = con.execute(self.oracles[name]).fetchdf()
                except duckdb.Error as exc:
                    out[name] = f"oracle error: {exc}"
                    continue
                out[name] = _as_rows(pdf)
            return out
        finally:
            con.close()

    def stage(self) -> None:
        """The tables were staged before the session started."""

    def warm_pass(self) -> None:
        """One untimed pass that fetches every result and checks it
        against its oracle."""
        checker = _load_checker(self.run.repo)
        results = {}
        for name in self.names:
            self.run.attempted += 1
            try:
                pdf = self.fns[name](self.run.spark, self.data_dir).toPandas()
            except Exception as exc:  # keep checking the other queries
                self.run.fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            results[name] = _as_rows(pdf)
        oracle = self._oracle_results.result()
        self._pool.shutdown()
        for name, (cols, rows) in results.items():
            problem = self._check(checker, name, cols, rows, oracle)
            self.run.check(f"{name} result", problem is None, problem)

    def check(self) -> None:
        """The results were checked in the warm pass."""

    def _check(self, checker, name, cols, rows, oracle) -> str | None:
        expected = oracle.get(name)
        if expected is None:
            return "no oracle to check against"
        if isinstance(expected, str):
            return expected
        ocols, orows = expected
        if len(rows) != len(orows):
            return f"rows spark={len(rows)} oracle={len(orows)}"
        if sorted(cols) != sorted(ocols):
            return f"columns spark={sorted(cols)} oracle={sorted(ocols)}"
        if checker.value_hash(cols, rows) != checker.value_hash(ocols, orows):
            return "value hash differs from the oracle"
        return None

    def summary(self, passes: list[dict]) -> dict[str, float]:
        """The end-to-end figures particular to this workload."""
        pass_s = statistics.median(p["wall_s"] for p in passes)
        rows = sum(self.rows.values())  # every generated table is read
        # each query weighs the same, however long it runs: a middle value
        # of all latencies would jump between queries from run to run
        latency = [statistics.median(p["ops"][f"q.{n}"] for p in passes)
                   for n in self.names]
        return {
            "freshness_s": statistics.geometric_mean(latency),
            "docs_per_s": rows / pass_s,
            # the workload writes no table: this is the size of its
            # inputs, fixed by the seed, which no engine change moves
            "stored_bytes_per_doc": probes.dir_bytes(self.data_dir) / rows,
        }

    # ------------------------------------------------------------ passes

    def one_pass(self, traced: bool) -> dict:
        """Run every query once, in a seeded order, to the noop sink."""
        order = list(self.names)
        self.run.rng.shuffle(order)
        with self.run.pass_window(traced) as w:
            for name in order:
                with w.op(f"q.{name}"):
                    self._run_query(name)
        res = dict(w.result)
        res["order"] = order
        return res

    def _run_query(self, name: str) -> None:
        """Build one query and run it to the noop sink; a failure counts."""
        run = self.run
        try:
            with run.tracer.span("plans.build"):
                sdf = self.fns[name](run.spark, self.data_dir)
            with run.tracer.span("spark.save"):
                sdf.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # count it and go on
            run.fail(f"{name}: {type(exc).__name__}: {exc}")
