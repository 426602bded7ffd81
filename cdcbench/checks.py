"""Correctness checks computed apart from the engine, with DuckDB.

The expected table state is a last-writer-wins replay of the log window:
per (repo, path) the event with the highest (commit_seq, offset) wins, a
winning delete leaves no row, ``lang`` is canonicalized through the
generator's own ``LANG_VARIANTS`` table and ``content_sha`` is DuckDB's
``sha256(content)``.  Every engine output the round collected is compared
with it; each check is named so a failure says which output was wrong.
"""

from __future__ import annotations

import glob
import os

STATE_COLS = ["repo", "path", "commit", "lang", "content", "content_sha"]


class Oracle:
    def __init__(self, log_dir: str, lang_variants: list[tuple[str, str]]):
        import duckdb

        self.log_dir = log_dir
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE lang_map (variant VARCHAR, canon VARCHAR)"
        )
        self.con.executemany(
            "INSERT INTO lang_map VALUES (?, ?)",
            [(variant, canon) for canon, variant in lang_variants],
        )
        pattern = os.path.join(log_dir, "*.parquet").replace("'", "''")
        self.con.execute(
            f"CREATE VIEW log AS SELECT * FROM read_parquet('{pattern}')"
        )

    def state_sql(self, hi: int) -> str:
        return f"""
            SELECT w.repo, w.path, w.commit, m.canon AS lang, w.content,
                   sha256(w.content) AS content_sha
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY repo, path
                    ORDER BY commit_seq DESC, "offset" DESC) AS rn
                FROM log WHERE "offset" <= {int(hi)}
            ) w JOIN lang_map m ON m.variant = w.lang
            WHERE w.rn = 1 AND w.op <> 'D'
        """

    def live_keys(self, hi: int) -> list[tuple[str, str]]:
        return self.con.execute(
            f"SELECT repo, path FROM ({self.state_sql(hi)})"
        ).fetchall()

    def footer_rows(self) -> int:
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(f).num_rows
            for f in glob.glob(os.path.join(self.log_dir, "*.parquet"))
        )

    def _diff(self, a: str, b: str) -> tuple[int, int]:
        """Rows of ``a`` missing from ``b`` and rows of ``b`` missing from
        ``a``, as multisets."""
        extra = self.con.execute(
            f"SELECT count(*) FROM ({a} EXCEPT ALL {b})"
        ).fetchone()[0]
        missing = self.con.execute(
            f"SELECT count(*) FROM ({b} EXCEPT ALL {a})"
        ).fetchone()[0]
        return int(extra), int(missing)

    def check_round(self, res, hi: int, sinks: bool) -> dict[str, bool]:
        """Named pass/fail results for one round's outputs."""
        con = self.con
        cols = ", ".join(STATE_COLS)
        con.execute(f"CREATE OR REPLACE TABLE expected AS {self.state_sql(hi)}")
        con.register("scan_after", res.scan_after)
        con.register("scan_before", res.scan_before)
        out: dict[str, bool] = {}
        out["final_state"] = self._diff(
            f"SELECT {cols} FROM scan_after", f"SELECT {cols} FROM expected"
        ) == (0, 0)
        out["content_sha"] = con.execute(
            "SELECT count(*) FROM scan_after "
            "WHERE content_sha IS DISTINCT FROM sha256(content)"
        ).fetchone()[0] == 0
        out["scan_before_equals_after"] = self._diff(
            f"SELECT {cols} FROM scan_before", f"SELECT {cols} FROM scan_after"
        ) == (0, 0)
        out["read_phase_scan_count"] = res.scan_before.num_rows == con.execute(
            "SELECT count(*) FROM expected"
        ).fetchone()[0]
        out["events_read"] = res.events_read == self.footer_rows()
        out["lookups"] = all(
            self._lookup_ok(key, rows) for key, rows in res.lookups
        )
        if sinks:
            con.register("scd2_current", res.scd2_current)
            con.register("matview", res.matview)
            out["scd2_current"] = self._diff(
                "SELECT repo, rpath AS path, commit, lang, content "
                "FROM scd2_current",
                "SELECT repo, path, commit, lang, content FROM expected",
            ) == (0, 0)
            out["matview"] = self._diff(
                "SELECT grp, n_paths, total_chars FROM matview",
                "SELECT repo, count(*)::BIGINT, sum(length(content))::BIGINT "
                "FROM expected GROUP BY repo",
            ) == (0, 0)
        for name in ("scan_after", "scan_before", "scd2_current", "matview"):
            con.unregister(name)
        return out

    def _lookup_ok(self, key: tuple[str, str], rows: list[dict]) -> bool:
        want = self.con.execute(
            f"SELECT {', '.join(STATE_COLS)} FROM expected "
            "WHERE repo = ? AND path = ?",
            list(key),
        ).fetchall()
        got = [tuple(r.get(c) for c in STATE_COLS) for r in rows]
        return sorted(got) == sorted(want)
