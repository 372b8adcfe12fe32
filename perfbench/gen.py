"""Seeded input generators for the benchmark workloads.

Every table is built by DuckDB from ``hash(seed, ...)`` arithmetic (shifted
to a non-negative BIGINT), so
the same seed yields byte-identical parquet files and a different seed
yields different ones. The package under test receives only these
files; nothing here imports it.

- ``transcripts``: the flagship payload (``conv_id, turn_idx, role,
  text, tool, ts``). About 5% of ``text`` values are malformed (a
  truncated line or garbage), and about 1% of conversations are hot,
  carrying 100x the turns of the others.
- ``documents``: ``doc_id, text, lang, source, n_chars`` word-soup
  documents with the shape measured on the sf0.1 ``documents`` table:
  10-99 words (every length equally often) drawn uniformly from a
  30-word vocabulary, 5% of documents a copy of an earlier one with
  `` dup`` appended, 41% ``en``
  and the rest spread over four other languages, 20 sources. The base
  set is replicated ``replicas`` times with a per-replica `` rep<r>``
  tag, as ``bench.py`` builds its sf1 documents, so every replica adds
  new near-duplicate classes.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

LEVELS = ("FATAL", "ERROR", "WARN", "DEBUG", "INFO")
TOOLS = ("bash", "search", "editor", "http", "none")
EVENTS = ("call", "read", "write", "exec", "fetch", "plan")
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big window row table stream merge "
    "data key join vector customer"
).split()

MALFORMED_PER_MILLE = 50
DUP_PER_MILLE = 50
HOT_PER_MILLE = 10
HOT_MULTIPLIER = 100


def connect(threads: int = 2) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _list_sql(values: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


def transcripts_sql(seed: int, n_conv: int, turns: int, rows: int) -> str:
    """One row per turn, ordered by a seeded hash so any contiguous slice
    (a streaming file) mixes hot and cold conversations. The first
    ``rows`` turns are kept, so every seed yields the same row count."""
    s = int(seed)
    return f"""
WITH convs AS (
  SELECT c AS conv_n,
         (hash({s}::BIGINT, 1::BIGINT, c) >> 1)::BIGINT % 1000 < {HOT_PER_MILLE} AS hot
  FROM range({int(n_conv)}) t(c)
), turns AS (
  SELECT conv_n, hot,
         unnest(range(CASE WHEN hot THEN {int(turns) * HOT_MULTIPLIER}
                           ELSE {int(turns)} END)) AS turn_idx
  FROM convs
), h AS (
  SELECT conv_n, hot, turn_idx,
         (hash({s}::BIGINT, 2::BIGINT, conv_n, turn_idx) >> 1)::BIGINT AS h,
         TIMESTAMPTZ '2024-01-01 00:00:00+00'
           + to_seconds(conv_n * 3600 + turn_idx * 7) AS ts
  FROM turns
), f AS (
  SELECT *,
    {_list_sql(LEVELS)}[CASE WHEN h % 100 < 3 THEN 1 WHEN h % 100 < 15 THEN 2
                             WHEN h % 100 < 30 THEN 3 WHEN h % 100 < 50 THEN 4
                             ELSE 5 END] AS level,
    {_list_sql(TOOLS)}[((h // 100) % {len(TOOLS)}) + 1] AS tool,
    {_list_sql(EVENTS)}[((h // 1000) % {len(EVENTS)}) + 1] AS evt,
    (h // 10000) % 1000 AS bad
  FROM h
)
SELECT
  printf('conv-%07d', conv_n) AS conv_id,
  turn_idx::INT AS turn_idx,
  ['user', 'assistant', 'system', 'tool'][(turn_idx % 4) + 1] AS role,
  CASE
    WHEN bad < {MALFORMED_PER_MILLE // 2} THEN 'garbled ' || evt || ' !!'
    WHEN bad < {MALFORMED_PER_MILLE} THEN
      'at=' || strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' ' || level
      || ' [' || tool || '] evt=' || evt
    ELSE
      'at=' || strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' ' || level
      || ' [' || tool || '] evt=' || evt
      || ' code=' || CAST((h // 10000000) % 7 AS VARCHAR)
      || ' dur_ms=' || CAST((h // 100000000) % 5000 AS VARCHAR)
      || ' k=' || CAST((h // 1000000000000) % 100 AS VARCHAR)
  END AS text,
  tool,
  ts
FROM f
ORDER BY h, conv_n, turn_idx
LIMIT {int(rows)}
"""


def documents_sql(seed: int, n_base: int, replicas: int) -> str:
    """Word-soup documents; 5% of base docs copy an earlier base doc's
    words and append `` dup``, then every replica re-tags the set.

    The seed shuffles which document gets which length and which are
    copies, but every length from 10 to 99 is dealt equally often (in
    turn, so exactly when ``n_base`` is a multiple of 90) and the copy
    count is fixed: the pair queries' work grows with the words, so the
    word total does not depend on the seed."""
    s = int(seed)
    return f"""
WITH base AS (
  SELECT d AS base_id,
         10 + (row_number() OVER (ORDER BY hash({s}::BIGINT, 3::BIGINT, d)) - 1) % 90 AS n_words,
         row_number() OVER (ORDER BY d = 0, hash({s}::BIGINT, 4::BIGINT, d))
           <= {int(n_base)} * {DUP_PER_MILLE} // 1000 AS is_copy,
         (hash({s}::BIGINT, 5::BIGINT, d) >> 1)::BIGINT % greatest(d, 1) AS src_id,
         (hash({s}::BIGINT, 7::BIGINT, d) >> 1)::BIGINT % 100 AS lang_h
  FROM range({int(n_base)}) t(d)
), words AS (
  SELECT base_id,
    array_to_string(list_transform(range(n_words),
      i -> {_list_sql(VOCAB)}[((hash({s}::BIGINT, 6::BIGINT, base_id, i) >> 1)::BIGINT
                               % {len(VOCAB)}) + 1]), ' ') AS body
  FROM base
), text AS (
  SELECT b.base_id, b.lang_h,
         CASE WHEN b.is_copy THEN o.body || ' dup' ELSE o.body END AS body
  FROM base b JOIN words o
    ON o.base_id = CASE WHEN b.is_copy THEN b.src_id ELSE b.base_id END
)
SELECT
  (r * 10000000 + base_id)::BIGINT AS doc_id,
  body || ' rep' || r AS text,
  CASE WHEN lang_h < 41 THEN 'en'
       ELSE ['zh', 'es', 'fr', 'de'][(lang_h % 4) + 1] END AS lang,
  'src' || CAST(base_id % 20 AS VARCHAR) AS source,
  length(body || ' rep' || r)::BIGINT AS n_chars
FROM text, range({int(replicas)}) t(r)
ORDER BY doc_id
"""


def write_files(con, sql: str, out_dir: str, n_files: int) -> list[str]:
    """Write a query's rows as ``n_files`` contiguous parquet files (a
    table's data files, or the streaming receiver's input directory).

    pyarrow writes the files: DuckDB's COPY syncs them to disk, and
    deleting synced files is slow on hosts that discard freed blocks
    online."""
    os.makedirs(out_dir, exist_ok=True)
    table = con.execute(sql).arrow()
    per = -(-table.num_rows // n_files)
    files = []
    for i in range(n_files):
        f = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * per, per), f)
        files.append(f)
    return files


def transcript_properties(con, path: str, text_pattern: str) -> dict:
    """Input properties a later change's gain may depend on;
    ``text_pattern`` is the regex the pipeline parses ``text`` with."""
    rows, convs, bad, hot_rows, hot_convs = con.execute(
        f"""
WITH t AS (SELECT * FROM read_parquet('{path}')),
c AS (SELECT conv_id, count(*) AS n FROM t GROUP BY conv_id),
m AS (SELECT median(n) AS med FROM c)
SELECT (SELECT count(*) FROM t), (SELECT count(*) FROM c),
  (SELECT count(*) FROM t WHERE NOT regexp_matches(text, $1)),
  (SELECT coalesce(sum(n), 0) FROM c, m WHERE n > 10 * m.med),
  (SELECT count(*) FROM c, m WHERE n > 10 * m.med)
""",
        [text_pattern],
    ).fetchone()
    return {
        "rows": rows,
        "bytes": _size(path),
        "malformed_share": bad / rows,
        "hot_conv_share": hot_convs / convs,
        "hot_row_share": hot_rows / rows,
    }


def document_properties(con, path: str) -> dict:
    """Document shape, with any replica tag stripped before words count."""
    rows, chars, words, vocab, copies = con.execute(
        f"""
WITH d AS (SELECT regexp_replace(text, ' rep[0-9]+$', '') AS body, n_chars
           FROM read_parquet('{path}')),
w AS (SELECT unnest(string_split(body, ' ')) AS w FROM d)
SELECT (SELECT count(*) FROM d), (SELECT sum(n_chars) FROM d),
  (SELECT count(*) FROM w), (SELECT count(DISTINCT w) FROM w),
  (SELECT count(*) FROM d WHERE body LIKE '% dup')
"""
    ).fetchone()
    return {
        "rows": rows,
        "bytes": _size(path),
        "mean_chars": chars / rows,
        "mean_words": words / rows,
        "vocabulary": vocab,
        "dup_copy_share": copies / rows,
    }


def _size(path: str) -> int:
    """Bytes of a file, or of every file a glob matches."""
    return sum(os.path.getsize(p) for p in glob.glob(path))
