"""The ``near_dup_sweep`` workload: the registry entries ``dedup_minhash_lsh``
and ``dedup_ngram_jaccard`` over a generated ``documents`` table, rows
collected. One op (a sweep) calls both entries.

Checks: the n-gram rows equal the entry's ``oracle_sql()`` run in DuckDB,
the LSH entry's own self-assert passes (it raises otherwise), and the LSH
rows are the same on every sweep of the run.
"""

from __future__ import annotations

import hashlib
import time

from gen import documents_table


def _key(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()[:16]


class NearDupSweep:
    def __init__(self, spark, run_dir: str, seed: int, tracer):
        self.spark, self.dir, self.tr = spark, run_dir, tracer
        docs = documents_table(seed)
        docs.to_parquet(f"{run_dir}/documents.parquet", index=False)
        self.docs_stats = {
            "rows": len(docs),
            "content_bytes": int(docs["n_chars"].sum()),
            "files": 1,
        }
        self.lsh_key = self.ngram_key = None

    def stats(self) -> dict:
        return self.docs_stats

    def oracle(self) -> None:
        """The n-gram entry's DuckDB oracle rows (computed once per run)."""
        import duckdb

        from music_dedupe_spark.queries import oracle_sql

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"SET temp_directory = '{self.dir}/duckdb_tmp'")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.dir}/documents.parquet')")
            rows = con.execute(oracle_sql()["dedup_ngram_jaccard"]).fetchall()
        finally:
            con.close()
        self.ngram_key = _key((l, r, round(j, 4)) for l, r, j in rows)
        self.ngram_rows = len(rows)

    def sweep(self) -> tuple[float, float]:
        """Both entries, rows collected. Returns (lsh wall, n-gram wall)."""
        from music_dedupe_spark.operators import dedup

        t0 = time.perf_counter()
        with self.tr.span("minhash_lsh_entry") as s:
            lsh = dedup.dedup_minhash_lsh(self.spark, self.dir).collect()
        t1 = time.perf_counter()
        with self.tr.span("ngram_entry") as n:
            ngram = dedup.dedup_ngram_jaccard(self.spark, self.dir).collect()
        t2 = time.perf_counter()
        if s is not None:
            s.counters["rows_out"] = (len(lsh), "count")
            n.counters["rows_out"] = (len(ngram), "count")
        self.last = (_key(lsh), len(lsh), _key((r[0], r[1], round(r[2], 4)) for r in ngram), len(ngram))
        return t1 - t0, t2 - t1

    def check(self) -> None:
        """The last sweep's rows: n-gram equal to the oracle, LSH equal to
        the first sweep's."""
        lsh_key, n_lsh, ngram_key, n_ngram = self.last
        if self.ngram_key is None:
            self.oracle()
        if self.lsh_key is None:
            self.lsh_key, self.lsh_rows = lsh_key, n_lsh
        elif lsh_key != self.lsh_key:
            raise AssertionError("dedup_minhash_lsh rows changed between sweeps")
        if ngram_key != self.ngram_key:
            raise AssertionError(
                f"dedup_ngram_jaccard: {n_ngram} rows differ from the DuckDB oracle's {self.ngram_rows}"
            )
