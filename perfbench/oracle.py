"""DuckDB output oracle for the benchmark workloads.

Expected outputs come from the repository's own DuckDB twins
(``__spark_entry__.oracle_sql()``), used read-only: the flagship twins
derive transcripts from the ``events`` table, so their transcripts CTE
is swapped for the generated transcript table; the dedup twins read a
``documents`` view over the generated documents.

A check returns a list of mismatch strings; an empty list means the
output is correct.
"""

from __future__ import annotations

import glob
import json
import os

ROUTES = ("sink_default", "sink_errors", "sink_exec")


def _twins():
    import __spark_entry__ as entry

    return entry.oracle_sql(), entry.TRANSCRIPTS_ORACLE_CTE.strip()


def _over_table(sql: str, cte: str, table_sql: str) -> str:
    if cte not in sql:
        raise ValueError("oracle twin no longer embeds the transcripts CTE")
    return sql.replace(cte, f"transcripts AS (SELECT * FROM {table_sql})")


def _glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


class TranscriptOracle:
    """Expected routed-row counts per sink and count-connector rows for
    a transcript table (one parquet file or a glob of them)."""

    def __init__(self, con, parquet: str):
        twins, cte = _twins()
        table = f"read_parquet('{parquet}')"
        self.counts = sorted(
            con.execute(_over_table(twins["flagship"], cte, table)).fetchall(),
            key=repr,
        )
        route_sql = _over_table(twins["route_match_once"], cte, table)
        self.sinks = dict(
            con.execute(
                f"SELECT route, count(*) FROM ({route_sql}) GROUP BY route"
            ).fetchall()
        )
        # per input file: what one micro-batch over that file must write
        per_file = con.execute(
            f"""SELECT f.filename, r.route, count(*)
FROM ({route_sql}) r
JOIN read_parquet('{parquet}', filename = true) f USING (conv_id, turn_idx)
GROUP BY 1, 2"""
        ).fetchall()
        self.sinks_by_file: dict[str, dict[str, int]] = {}
        for f, route, n in per_file:
            self.sinks_by_file.setdefault(os.path.basename(f), {})[route] = n
        self.rows = sum(self.sinks.values())

    def route_shares(self) -> dict[str, float]:
        return {r: self.sinks.get(r, 0) / self.rows for r in ROUTES}


def sink_counts(con, sink_dir: str, by_batch: bool = False) -> dict:
    """Rows per ``route=`` directory (and per ``batch_id=`` directory
    for the streaming sink), read from parquet footers."""
    keys = "batch_id, route" if by_batch else "route"
    rows = con.execute(
        f"SELECT {keys}, count(*) FROM read_parquet('{_glob(sink_dir)}', "
        f"hive_partitioning = true, hive_types_autocast = false) "
        f"GROUP BY ALL"
    ).fetchall()
    if not by_batch:
        return dict(rows)
    out: dict[int, dict[str, int]] = {}
    for batch_id, route, n in rows:
        out.setdefault(int(batch_id), {})[route] = n
    return out


def check_sinks(got: dict, want: dict, what: str = "sinks") -> list[str]:
    got = {k: v for k, v in got.items() if v}
    want = {k: v for k, v in want.items() if v}
    return [] if got == want else [f"{what}: got {got}, want {want}"]


def check_counts(con, counts_dir: str, oracle: TranscriptOracle) -> list[str]:
    got = sorted(
        con.execute(
            f"SELECT metric_name, element_at(attrs, 'route')[1], "
            f"element_at(attrs, 'role')[1], count "
            f"FROM read_parquet('{_glob(counts_dir)}')"
        ).fetchall(),
        key=repr,
    )
    if got == oracle.counts:
        return []
    return [f"counts table: {len(got)} rows differ from {len(oracle.counts)} expected"]


class DedupOracle:
    """Expected verified LSH pairs and winnow pairs for a documents
    table, from the ``dedup_lsh_verified`` and ``winnow_match_pairs``
    twins."""

    def __init__(self, con, parquet: str):
        twins, _ = _twins()
        con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{parquet}')"
        )
        con.execute(
            "CREATE OR REPLACE TEMP TABLE __want_lsh AS SELECT a_id, b_id FROM ("
            + twins["dedup_lsh_verified"] + ")"
        )
        con.execute(
            "CREATE OR REPLACE TEMP TABLE __want_winnow AS "
            "SELECT a_id, b_id, shared_fps FROM (" + twins["winnow_match_pairs"] + ")"
        )
        self.lsh_pairs = con.execute("SELECT count(*) FROM __want_lsh").fetchone()[0]
        self.winnow_pairs = con.execute(
            "SELECT count(*) FROM __want_winnow"
        ).fetchone()[0]
        n_docs, dup_docs = con.execute(
            """SELECT (SELECT count(*) FROM documents),
  (SELECT count(*) FROM (SELECT a_id FROM __want_lsh UNION SELECT b_id FROM __want_lsh))"""
        ).fetchone()
        self.near_dup_share = dup_docs / n_docs

    def check(self, con, lsh_dir: str, winnow_dir: str) -> list[str]:
        bad = []
        for name, cols, want, path in (
            ("verified pairs", "a_id, b_id", "__want_lsh", lsh_dir),
            ("winnow pairs", "a_id, b_id, shared_fps", "__want_winnow", winnow_dir),
        ):
            got = f"(SELECT {cols} FROM read_parquet('{_glob(path)}'))"
            n_got, extra, missing = con.execute(
                f"SELECT (SELECT count(*) FROM {got}), "
                f"(SELECT count(*) FROM ({got} EXCEPT ALL SELECT {cols} FROM {want})), "
                f"(SELECT count(*) FROM (SELECT {cols} FROM {want} EXCEPT ALL {got}))"
            ).fetchone()
            if extra or missing:
                bad.append(
                    f"{name}: {n_got} rows, {extra} unexpected, {missing} missing"
                )
        return bad


def stream_batch_files(checkpoint: str) -> dict[int, list[str]]:
    """batch_id -> input file basenames, from the file source's metadata
    log under ``<checkpoint>/sources/0`` (plain and ``.compact`` files;
    every entry carries its ``batchId``)."""
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue  # checksum files
        with open(path) as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        for line in filter(None, lines):
            entry = json.loads(line)
            out.setdefault(int(entry["batchId"]), set()).add(
                os.path.basename(entry["path"])
            )
    return {b: sorted(fs) for b, fs in out.items()}
