"""Independent last-LSN oracle for the engine's apply path, in DuckDB.

The oracle reads the same parquet files the engine is given, one list
of files per applied batch, and derives the expected table with the
engine's documented rules and none of its code:

- a row is quarantined when its url or lsn is NULL, its op is not one
  of I/U/D, or it is an I/U without html;
- per batch, a key's winner is its highest lsn among rows with a url,
  an lsn and a valid op (payload not consulted);
- the winner's valid rows are applied; when the winner is
  payload-poisoned (an I/U without html) the key is skipped for that
  batch (operators/apply.py, the broadcast dedup comment);
- across batches the highest applied lsn per key wins, and a winning
  D removes the key.

``Oracle.diff`` is the gate: it returns the differences between an
engine snapshot and the oracle, and an empty list means they agree.
"""

from __future__ import annotations

import duckdb
import pandas as pd

#: columns both sides project for the full-state comparison; html and
#: text are compared byte for byte on the looked-up sample instead,
#: because reading every payload would dominate the run
STATE_COLS = ["url", "lsn", "warc_us", "lang"]

_VALID = "url IS NOT NULL AND lsn IS NOT NULL AND op IN ('I', 'U', 'D')"
_POISONED = "op <> 'D' AND html IS NULL"


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class Oracle:
    def __init__(self, temp_dir: str | None = None):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")  # the checks run beside Spark
        if temp_dir:
            self.con.execute(f"SET temp_directory = {_quote(temp_dir)}")
        self.batches: list[list[str]] = []

    def close(self) -> None:
        self.con.close()

    def add_batch(self, files: list[str]) -> None:
        """Register the parquet files of the next applied batch."""
        if not files:
            raise ValueError("a batch needs at least one file")
        self.batches.append(list(files))

    def _events(self, lo: int, hi: int) -> str:
        """Every event of batches ``lo <= b < hi`` with its batch index."""
        parts = [
            f"SELECT {b} AS b, lsn, op, url, warc_ts, html, lang FROM "
            f"read_parquet([{', '.join(_quote(f) for f in self.batches[b])}])"
            for b in range(lo, hi)
        ]
        if not parts:
            raise ValueError(f"no batches in [{lo}, {hi})")
        return " UNION ALL ".join(parts)

    def _applied(self, lo: int, hi: int) -> str:
        """One row per (batch, key) that the batch applies."""
        return f"""
            WITH ev AS ({self._events(lo, hi)}),
            win AS (SELECT b, url, max(lsn) AS wl FROM ev
                    WHERE {_VALID} GROUP BY b, url)
            SELECT DISTINCT ON (e.b, e.url)
                   e.b, e.url, e.lsn, e.op, epoch_us(e.warc_ts) AS warc_us,
                   e.lang
            FROM ev e JOIN win w ON e.b = w.b AND e.url = w.url AND e.lsn = w.wl
            WHERE NOT ({_POISONED})"""

    def batch_counts(self, b: int) -> dict[str, int]:
        """Expected ``BatchMetrics`` counts of batch ``b``: rows in,
        rows quarantined, and rows handed to the merge (the winner's
        valid rows, exact re-deliveries included)."""
        row = self.con.execute(f"""
            WITH ev AS ({self._events(b, b + 1)}),
            win AS (SELECT url, max(lsn) AS wl FROM ev
                    WHERE {_VALID} GROUP BY url)
            SELECT
              (SELECT count(*) FROM ev),
              (SELECT count(*) FROM ev WHERE NOT ({_VALID}) OR {_POISONED}),
              (SELECT count(*) FROM ev e JOIN win w
                 ON e.url = w.url AND e.lsn = w.wl
               WHERE NOT ({_POISONED}))""").fetchone()
        return {"rows_in": row[0], "rows_quarantined": row[1],
                "rows_merged_in": row[2]}

    def _state_sql(self, hi: int, where: str = "") -> str:
        return f"""
            WITH a AS ({self._applied(0, hi)} ),
            f AS (SELECT url, max(lsn) AS lsn, arg_max(op, lsn) AS op,
                         arg_max(warc_us, lsn) AS warc_us,
                         arg_max(lang, lsn) AS lang
                  FROM a {where} GROUP BY url)
            SELECT {', '.join(STATE_COLS)} FROM f WHERE op <> 'D'"""

    def state(self, upto: int | None = None, keys: list[str] | None = None
              ) -> pd.DataFrame:
        """The live table after batches ``[0, upto)`` (all by default),
        optionally restricted to ``keys``, sorted by url."""
        hi = len(self.batches) if upto is None else upto
        if hi == 0 or keys == []:
            return pd.DataFrame(columns=STATE_COLS)
        where = ""
        if keys is not None:
            where = f"WHERE url IN ({', '.join(_quote(k) for k in keys)})"
        return self.con.execute(self._state_sql(hi, where) + " ORDER BY url").df()

    def diff(self, engine, upto: int | None = None, limit: int = 5) -> list[str]:
        """Differences between an engine snapshot (a pandas or Arrow
        table with ``STATE_COLS``) and the live table after batches
        ``[0, upto)``; at most ``limit`` are described. Empty when they
        agree."""
        hi = len(self.batches) if upto is None else upto
        self.con.register("_engine", engine)
        try:
            self.con.execute("CREATE OR REPLACE TEMP TABLE _expected AS "
                             + self._state_sql(hi))
            checks = [
                ("duplicate keys in the table",
                 "SELECT url FROM _engine GROUP BY url HAVING count(*) > 1"),
                ("keys missing",
                 "SELECT url FROM _expected ANTI JOIN _engine USING (url)"),
                ("unexpected keys",
                 "SELECT url FROM _engine ANTI JOIN _expected USING (url)"),
            ] + [
                (f"keys differ in {col}",
                 f"SELECT url FROM _expected x JOIN _engine e USING (url) "
                 f"WHERE e.{col} IS DISTINCT FROM x.{col}")
                for col in STATE_COLS[1:]
            ]
            diffs = []
            for what, sql in checks:
                n, first = self.con.execute(
                    f"SELECT count(*), min(url) FROM ({sql})").fetchone()
                if n:
                    diffs.append(f"{n} {what}, e.g. {first!r}")
            return diffs[:limit]
        finally:
            self.con.unregister("_engine")

    def upserts(self, lo: int, hi: int) -> pd.DataFrame:
        """Net upserts of batches ``[lo, hi)``: per key touched there,
        its last applied event when that is not a delete (url, lsn)."""
        return self.con.execute(f"""
            WITH a AS ({self._applied(lo, hi)})
            SELECT url, max(lsn) AS lsn FROM a GROUP BY url
            HAVING arg_max(op, lsn) <> 'D' ORDER BY url""").df()

    def html(self, pairs: list[tuple[str, int]]) -> dict[tuple[str, int], bytes]:
        """Input html bytes for the given (url, lsn) events."""
        if not pairs:
            return {}
        cond = " OR ".join(f"(url = {_quote(u)} AND lsn = {int(n)})"
                           for u, n in pairs)
        rows = self.con.execute(f"""
            SELECT DISTINCT url, lsn, html FROM ({self._events(0, len(self.batches))})
            WHERE {cond}""").fetchall()
        return {(u, n): bytes(h) for u, n, h in rows}

    def html_sample(self, b: int, n: int, seed: int) -> list[bytes]:
        """A seeded sample of ``n`` non-NULL html payloads of batch ``b``."""
        return [bytes(r[0]) for r in self.con.execute(f"""
            SELECT html FROM ({self._events(b, b + 1)}) WHERE html IS NOT NULL
            USING SAMPLE reservoir({int(n)} ROWS) REPEATABLE ({int(seed)})""").fetchall()]

    def urls(self, upto: int | None = None) -> list[str]:
        """Every url any of the batches mentions (live or not), sorted."""
        hi = len(self.batches) if upto is None else upto
        return [r[0] for r in self.con.execute(f"""
            SELECT DISTINCT url FROM ({self._events(0, hi)})
            WHERE url IS NOT NULL ORDER BY url""").fetchall()]
