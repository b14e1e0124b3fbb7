"""Correctness gate: the engine's final table against an independent replay.

The replay folds the same generated change log in DuckDB, with the
per-column last-writer-wins semantics of ``delete.mode=row`` that the
registry oracle (``_fold_ctes`` in ``__spark_entry__.py``) uses: events are
ordered by ``(commit_ts, offset)``, null-PK events are excluded (they belong
in the dead-letter queue), a key survives if it has no PUT/DELETE barrier,
its last barrier is a PUT, or an UPDATE follows the barrier, and each column
takes the latest non-null UPDATE after the barrier, else the barrier PUT's
value.

Both sides are reduced to the same digest in DuckDB: the row count plus two
order-free hashes over pk, attrs and ``content_sha256`` (``bit_xor`` and a
sum modulo a prime, so neither can overflow).
"""

from __future__ import annotations

import os

import duckdb

_ROW_HASH = 'hash(repo, path, "commit", lang, content, content_sha256)'

_DIGEST = f"""
SELECT count(*) AS n_rows,
       coalesce(bit_xor({_ROW_HASH}), 0) AS xor_hash,
       coalesce(sum({_ROW_HASH} % 1000000007), 0) AS mod_hash
FROM {{src}}
"""

_FOLD = """
WITH ev AS (
  SELECT *, row_number() OVER (ORDER BY commit_ts, "offset") AS ord
  FROM read_parquet({files})
  WHERE repo IS NOT NULL AND path IS NOT NULL
), o AS (
  SELECT *,
    CASE WHEN op <> 'UPDATE' THEN ord END AS bar_o,
    CASE WHEN op = 'UPDATE' THEN ord END AS upd_o
  FROM ev
), g AS (
  SELECT repo, path,
    max(bar_o) AS bar_ord,
    arg_max(op, bar_o) AS bar_op,
    arg_max("commit", bar_o) AS bar_commit,
    arg_max(lang, bar_o) AS bar_lang,
    arg_max(content, bar_o) AS bar_content,
    max(upd_o) AS upd_ord,
    arg_max("commit", CASE WHEN op = 'UPDATE' AND "commit" IS NOT NULL THEN ord END) AS u_commit,
    max(CASE WHEN op = 'UPDATE' AND "commit" IS NOT NULL THEN ord END) AS u_ord_commit,
    arg_max(lang, CASE WHEN op = 'UPDATE' AND lang IS NOT NULL THEN ord END) AS u_lang,
    max(CASE WHEN op = 'UPDATE' AND lang IS NOT NULL THEN ord END) AS u_ord_lang,
    arg_max(content, CASE WHEN op = 'UPDATE' AND content IS NOT NULL THEN ord END) AS u_content,
    max(CASE WHEN op = 'UPDATE' AND content IS NOT NULL THEN ord END) AS u_ord_content
  FROM o GROUP BY repo, path
), state AS (
  SELECT repo, path,
    CASE WHEN u_ord_commit IS NOT NULL AND (bar_ord IS NULL OR u_ord_commit > bar_ord)
         THEN u_commit WHEN bar_op = 'PUT' THEN bar_commit END AS "commit",
    CASE WHEN u_ord_lang IS NOT NULL AND (bar_ord IS NULL OR u_ord_lang > bar_ord)
         THEN u_lang WHEN bar_op = 'PUT' THEN bar_lang END AS lang,
    CASE WHEN u_ord_content IS NOT NULL AND (bar_ord IS NULL OR u_ord_content > bar_ord)
         THEN u_content WHEN bar_op = 'PUT' THEN bar_content END AS content
  FROM g
  WHERE bar_ord IS NULL OR bar_op = 'PUT' OR upd_ord > bar_ord
)
SELECT *, sha256(content) AS content_sha256 FROM state
"""


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def parquet_files(path: str) -> list[str]:
    """Every parquet data file under ``path`` (a file or a directory tree)."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _sql_list(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def log_counts(log_files: list[str], tmp_dir: str) -> tuple[int, int]:
    """(events, null-PK events) in the change-log files."""
    con = _connect(tmp_dir)
    try:
        return con.execute(
            "SELECT count(*), count(*) FILTER (WHERE repo IS NULL OR path IS NULL) "
            f"FROM read_parquet({_sql_list(log_files)})"
        ).fetchone()
    finally:
        con.close()


def check(engine, log_files: list[str], batch_ids: list[str], work: str) -> list[str]:
    """Return the list of failed checks (empty when the table is correct).

    - the final ``engine.state()`` digest equals the DuckDB replay's;
    - the DLQ holds exactly the generated null-PK events;
    - the ledger holds exactly one entry per applied batch, and its lineage
      rows sum to the clean events.
    """
    tmp = os.path.join(work, "check")
    os.makedirs(tmp, exist_ok=True)
    state_dir = os.path.join(tmp, "state")
    engine.state().write.mode("overwrite").parquet(state_dir)
    con = _connect(tmp)
    problems: list[str] = []
    try:
        state_files = parquet_files(state_dir)
        got = (
            con.execute(_DIGEST.format(src=f"read_parquet({_sql_list(state_files)})")).fetchone()
            if state_files
            else (0, 0, 0)
        )
        fold = f"({_FOLD.format(files=_sql_list(log_files))})"
        want = con.execute(_DIGEST.format(src=fold)).fetchone()
        if tuple(got) != tuple(want):
            problems.append(f"state digest {tuple(got)} != replay digest {tuple(want)}")
    finally:
        con.close()
    n_events, n_null_pk = log_counts(log_files, tmp)

    dlq = engine.table.read_dlq()
    n_dlq = 0 if dlq is None else dlq.count()
    if n_dlq != n_null_pk:
        problems.append(f"DLQ rows {n_dlq} != generated null-PK events {n_null_pk}")

    ledger = engine.table.committed_batches()
    if sorted(ledger) != sorted(batch_ids):
        problems.append(
            f"ledger holds {len(ledger)} batches, expected exactly {len(batch_ids)}"
        )
    lineage_rows = sum(
        ln.get("rows", 0)
        for m in ledger.values()
        for ln in (m.get("partitions") or {}).values()
        if isinstance(ln, dict)
    )
    if lineage_rows != n_events - n_null_pk:
        problems.append(
            f"ledger lineage rows {lineage_rows} != clean events {n_events - n_null_pk}"
        )
    return problems
