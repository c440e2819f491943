"""Engine-independent expected outputs, computed with DuckDB.

The expected verdict matrix is computed once per run in set-up, straight
from the generated parquet inputs, and every timed operation's written
sinks are compared against it. Nothing here calls the Spark engine.
"""

from __future__ import annotations

import glob
import os

import duckdb

# checks whose failing rows are materialized in the violations sink
ROW_LEVEL_CHECKS = (
    "n_tok_matches_size", "token_range", "doc_id_not_null",
    "unique_doc_id", "ri_source", "tokens_match_reference",
)


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


class Oracle:
    def __init__(self, work_dir: str, parents: list[str], vocab_size: int,
                 psi_threshold: float = 0.25, null_rate_threshold: float = 0.0):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
        self.con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        self.con.execute("CREATE TABLE parents (source VARCHAR)")
        self.con.executemany("INSERT INTO parents VALUES (?)", [(p,) for p in parents])
        self.vocab = vocab_size
        self.psi_threshold = psi_threshold
        self.null_rate_threshold = null_rate_threshold

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def verdict_matrix(self, table: str, reference: str | None = None,
                       base_hist: str | None = None, base_freq: str | None = None,
                       bucket_width: float = 16.0) -> dict:
        """(partition, check) -> (passed, violation_count, row_count), with the
        semantics documented on each check in operators/checks.py."""
        self.con.execute(
            f"CREATE OR REPLACE VIEW t AS SELECT doc_id, tokens, n_tok, "
            f"CAST(source AS VARCHAR) AS source FROM {_scan(table)}"
        )
        m: dict = {}
        for src, rc, ntok, rng, nulls, ri, dup in self._rows(f"""
            WITH k AS (SELECT doc_id, count(*) AS c FROM t WHERE doc_id IS NOT NULL GROUP BY doc_id)
            SELECT t.source, count(*),
              count(*) FILTER (WHERE t.tokens IS NOT NULL AND t.n_tok != len(t.tokens)),
              count(*) FILTER (WHERE t.tokens IS NOT NULL AND
                               len(list_filter(t.tokens, x -> x < 0 OR x >= {self.vocab})) > 0),
              count(*) FILTER (WHERE t.doc_id IS NULL),
              count(*) FILTER (WHERE t.source NOT IN (SELECT source FROM parents)),
              count(*) FILTER (WHERE k.c > 1)
            FROM t LEFT JOIN k ON t.doc_id = k.doc_id GROUP BY t.source"""):
            m[(src, "n_tok_matches_size")] = (ntok == 0, ntok, rc)
            m[(src, "token_range")] = (rng == 0, rng, rc)
            m[(src, "doc_id_not_null")] = (nulls <= self.null_rate_threshold * rc, nulls, rc)
            m[(src, "ri_source")] = (ri == 0, ri, rc)
            m[(src, "unique_doc_id")] = (dup == 0, dup, rc)
        for src, rc in self._rows(
            "SELECT p.source, count(t.source) FROM parents p "
            "LEFT JOIN t ON p.source = t.source GROUP BY p.source"
        ):
            m[(src, "row_count_gt_0")] = (rc > 0, 0 if rc > 0 else 1, rc)
        if reference is not None:
            for src, rc, bad in self._rows(f"""
                SELECT t.source, count(*), count(*) FILTER (WHERE t.tokens IS DISTINCT FROM r.tokens)
                FROM t JOIN {_scan(reference)} r ON t.doc_id = r.doc_id GROUP BY t.source"""):
                m[(src, "tokens_match_reference")] = (bad == 0, bad, rc)
        if base_hist is not None:
            cur = (f"SELECT source, CAST(floor(n_tok / {bucket_width}) * {bucket_width} AS DOUBLE) "
                   f"AS bucket, count(*) AS cnt FROM t GROUP BY ALL")
            for src, psi in self._psi(f"SELECT source, bucket, cnt FROM {_scan(base_hist)}", cur, 1e-6):
                m[(src, "n_tok_drift_psi")] = (psi <= self.psi_threshold, None, None)
        if base_freq is not None:
            cur = ("SELECT source, bucket, count(*) AS cnt FROM "
                   "(SELECT source, unnest(tokens) AS bucket FROM t) GROUP BY ALL")
            for src, psi in self._psi(f"SELECT source, bucket, cnt FROM {_scan(base_freq)}", cur, 1e-9):
                m[(src, "token_freq_drift_psi")] = (psi <= self.psi_threshold, None, None)
        return m

    def _psi(self, base_sql: str, cur_sql: str, eps: float) -> list[tuple]:
        """Per-group PSI with epsilon-smoothed proportions over the null-safe
        full-outer bucket merge (operators/drift.drift_by_group)."""
        return self._rows(f"""
            WITH b AS ({base_sql}), c AS ({cur_sql}),
            m AS (SELECT coalesce(b.source, c.source) AS g, coalesce(b.cnt, 0) AS b_cnt,
                         coalesce(c.cnt, 0) AS c_cnt
                  FROM b FULL OUTER JOIN c ON b.source IS NOT DISTINCT FROM c.source
                                          AND b.bucket IS NOT DISTINCT FROM c.bucket),
            bt AS (SELECT source, sum(cnt) AS tot FROM b GROUP BY source),
            ct AS (SELECT source, sum(cnt) AS tot FROM c GROUP BY source),
            p AS (SELECT m.g,
                    greatest(m.b_cnt / greatest(coalesce(bt.tot, 0), 1), {eps}) AS pb,
                    greatest(m.c_cnt / greatest(coalesce(ct.tot, 0), 1), {eps}) AS pc
                  FROM m LEFT JOIN bt ON m.g IS NOT DISTINCT FROM bt.source
                         LEFT JOIN ct ON m.g IS NOT DISTINCT FROM ct.source)
            SELECT g, round(sum((pc - pb) * ln(pc / pb)), 6) FROM p GROUP BY g""")

    def partition_rows(self, table: str) -> dict[str, tuple[int, int]]:
        """partition -> (rows, non-null doc_ids) of a table."""
        return {
            src: (rc, nn)
            for src, rc, nn in self._rows(
                f"SELECT CAST(source AS VARCHAR), count(*), count(doc_id) FROM {_scan(table)} GROUP BY 1"
            )
        }

    # -- checks of one operation's written sinks ---------------------------

    def _sink(self, out_dir: str, name: str) -> str | None:
        path = os.path.join(out_dir, name)
        return _scan(path) if glob.glob(f"{path}/**/*.parquet", recursive=True) else None

    def check_outputs(self, out_dir: str, expected: dict, partitions: set[str],
                      part_rows: dict[str, tuple[int, int]], cap: int,
                      drift_checks: int) -> list[str]:
        """Errors in the sinks one run_validation call wrote to `out_dir`.

        `partitions` must all have verdicts; any further partition the run
        chose to re-validate must also match `expected`."""
        errs: list[str] = []
        verdicts = self._sink(out_dir, "validation_verdicts")
        if verdicts is None:
            return ["no validation_verdicts sink written"]
        got = {
            (p, c): (bool(ok), vc, rc)
            for p, c, ok, vc, rc in self._rows(
                f"SELECT partition_value, check_name, passed, violation_count, row_count FROM {verdicts}"
            )
        }
        seen = {p for p, _ in got}
        missing = partitions - seen
        if missing:
            errs.append(f"no verdicts for partitions {sorted(missing)}")
        want = {k: v for k, v in expected.items() if k[0] in seen}
        for key in sorted(set(want) | set(got), key=str):
            if want.get(key) != got.get(key):
                errs.append(f"verdict {key}: expected {want.get(key)}, got {got.get(key)}")

        violations = self._sink(out_dir, "violations")
        got_v = {} if violations is None else {
            (p, c): n for c, p, n in self._rows(
                f"SELECT check_name, partition_value, count(*) FROM {violations} GROUP BY ALL"
            )
        }
        want_v = {
            (p, c): min(vc, cap)
            for (p, c), (_, vc, _) in want.items()
            if c in ROW_LEVEL_CHECKS and vc
        }
        if got_v != want_v:
            diff = {k: (want_v.get(k), got_v.get(k)) for k in set(want_v) | set(got_v)
                    if want_v.get(k) != got_v.get(k)}
            errs.append(f"violation rows per (partition, check) (expected, got): {diff}")

        profiles = self._sink(out_dir, "data_profiles")
        got_p = {} if profiles is None else {
            (p, col): (rc, nn) for p, col, rc, nn in self._rows(
                f"SELECT CAST(source AS VARCHAR), column_name, row_count, not_null_count FROM {profiles}"
            )
        }
        want_p = {}
        for p in seen & set(part_rows):
            rc, nn_doc = part_rows[p]
            want_p.update({(p, "doc_id"): (rc, nn_doc), (p, "tokens"): (rc, rc), (p, "n_tok"): (rc, rc)})
        if got_p != want_p:
            errs.append(f"data_profiles row/non-null counts differ: {len(got_p)} rows vs {len(want_p)} expected")

        drift = self._sink(out_dir, "drift_metrics")
        n_drift = 0 if drift is None else self._rows(f"SELECT count(*) FROM {drift}")[0][0]
        if n_drift != drift_checks:
            errs.append(f"drift_metrics has {n_drift} rows, expected {drift_checks}")
        return errs


def sink_files(out_dir: str) -> tuple[int, int]:
    """(data files, bytes) the sinks wrote under `out_dir`."""
    files = [p for p in glob.glob(f"{out_dir}/**/*.parquet", recursive=True)]
    return len(files), sum(os.path.getsize(p) for p in files)
