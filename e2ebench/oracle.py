"""Output checks against the program's own DuckDB oracle SQL.

Each check returns ``(rate, detail)``: the share of units (documents,
chunks, queries) whose engine output equals the oracle's. ``corrupt``
changes one engine output row before comparing; the self-test uses it to
show that a single wrong row makes the run incorrect.
"""

from __future__ import annotations

import duckdb

from gpt4ocontentextraction_spark import oracles
from gpt4ocontentextraction_spark.operators.embed import EMBED_SQL
from gpt4ocontentextraction_spark.operators.retrieval import HYBRID_RRF_SQL

from ops import CHUNK_KEY_STRIDE

# The exploded input spans, in the shape the extraction spec reads.
_INPUT_CTE = """
spanified AS (
  SELECT doc_id, s.kind AS kind, s.text AS text, s.media_ref AS media_ref,
         s."offset" AS "offset"
  FROM (SELECT doc_id, UNNEST(spans) AS s FROM corpus)
)"""


def _connect(corpus=None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    if corpus is not None:
        con.register("corpus", corpus)
    return con


def _files(dirs: list[str]) -> str:
    return "[" + ", ".join(f"'{d}/**/*.parquet'" for d in dirs) + "]"


def _bad_doc_count(con) -> int:
    """Docs whose spans differ between tables eng and ref, plus input docs
    missing from, or repeated in, the engine's output table eng_docs."""
    return con.execute(
        """
        SELECT count(*) FROM (
          SELECT doc_id FROM ((SELECT * FROM eng EXCEPT ALL SELECT * FROM ref)
                              UNION ALL
                              (SELECT * FROM ref EXCEPT ALL SELECT * FROM eng))
          UNION
          SELECT doc_id FROM eng_docs GROUP BY doc_id HAVING count(*) <> 1
          UNION
          SELECT doc_id FROM corpus
          WHERE doc_id NOT IN (SELECT doc_id FROM eng_docs)
        )"""
    ).fetchone()[0]


def check_ingest(corpus, expected, dirs: list[str], corrupt: bool) -> tuple[float, dict]:
    """Committed snapshot data vs ``oracles.extract_sql_over`` applied to
    the exploded input spans. Also counts (without gating) the documents
    where the engine disagrees with the fixture generator's expected spans."""
    con = _connect(corpus)
    n_docs = corpus.num_rows
    con.execute(
        f"CREATE TEMP TABLE eng_docs AS SELECT doc_id, spans"
        f" FROM read_parquet({_files(dirs)})"
    )
    con.execute(
        """CREATE TEMP TABLE eng AS
        SELECT doc_id, s.kind AS kind, s.text AS text, s.media_ref AS media_ref,
               CAST(s."offset" AS BIGINT) AS "offset"
        FROM (SELECT doc_id, UNNEST(spans) AS s FROM eng_docs)"""
    )
    if corrupt:
        con.execute("UPDATE eng SET text = text || '!' WHERE rowid = 0")
    con.execute(
        "CREATE TEMP TABLE ref AS WITH "
        + oracles.extract_sql_over(_INPUT_CTE)
        + ' SELECT doc_id, kind, text, media_ref, CAST("offset" AS BIGINT)'
        + ' AS "offset" FROM extracted'
    )
    bad = _bad_doc_count(con)
    # non-gating: the fixture generator's own expected spans
    con.register("expected", expected)
    con.execute("DROP TABLE ref")
    con.execute(
        """CREATE TEMP TABLE ref AS
        SELECT doc_id, s.kind AS kind, s.text AS text, s.media_ref AS media_ref,
               CAST(s."offset" AS BIGINT) AS "offset"
        FROM (SELECT doc_id, UNNEST(spans) AS s FROM expected)"""
    )
    fixture_bad = _bad_doc_count(con)
    con.close()
    return 1.0 - bad / n_docs, {
        "oracle_mismatch_docs": bad,
        "fixture_disagree_docs": fixture_bad,
        "docs": n_docs,
    }


def chunk_dispatch_sql() -> str:
    """``CHUNK_DISPATCH_SQL`` with its input swapped for the corpus spans."""
    if not oracles.CHUNK_DISPATCH_SQL.startswith(oracles.EXTRACT_SQL):
        raise RuntimeError("CHUNK_DISPATCH_SQL no longer extends EXTRACT_SQL")
    return "WITH " + oracles.extract_sql_over(_INPUT_CTE) + (
        oracles.CHUNK_DISPATCH_SQL[len(oracles.EXTRACT_SQL):]
    )


def check_index(corpus, dirs: list[str], corrupt: bool) -> tuple[float, dict]:
    """Index vectors vs ``EMBED_SQL`` over the ``CHUNK_DISPATCH_SQL`` chunks
    of the same corpus; a chunk matches when it is present exactly once and
    its vector (NULL for short chunks) equals the oracle's."""
    con = _connect(corpus)
    con.execute("CREATE TEMP TABLE chunks AS " + chunk_dispatch_sql())
    con.execute(
        f"""CREATE TEMP TABLE documents AS
        SELECT CAST(file_name AS BIGINT) * {CHUNK_KEY_STRIDE} + chunk_id AS doc_id,
               content AS text
        FROM chunks"""
    )
    n_chunks = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    con.execute(
        f"CREATE TEMP TABLE eng_rows AS SELECT doc_id, vector"
        f" FROM read_parquet({_files(dirs)})"
    )
    if corrupt:
        con.execute(
            """UPDATE eng_rows SET vector = list_transform(vector, x -> x + 1)
            WHERE doc_id = (SELECT min(doc_id) FROM eng_rows
                            WHERE vector IS NOT NULL)"""
        )
    con.execute(
        """CREATE TEMP TABLE eng AS
        SELECT doc_id, CAST(j AS BIGINT) AS dim, round(vector[j + 1], 6) AS val
        FROM (SELECT doc_id, vector, UNNEST(range(len(vector))) AS j
              FROM eng_rows WHERE vector IS NOT NULL)"""
    )
    con.execute("CREATE TEMP TABLE ref AS " + EMBED_SQL)
    bad = con.execute(
        """
        SELECT count(*) FROM (
          SELECT doc_id FROM ((SELECT * FROM eng EXCEPT ALL SELECT * FROM ref)
                              UNION ALL
                              (SELECT * FROM ref EXCEPT ALL SELECT * FROM eng))
          UNION
          SELECT doc_id FROM eng_rows GROUP BY doc_id HAVING count(*) <> 1
          UNION
          SELECT doc_id FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM eng_rows)
          UNION
          SELECT doc_id FROM eng_rows
          WHERE doc_id NOT IN (SELECT doc_id FROM documents)
        )"""
    ).fetchone()[0]
    con.close()
    return 1.0 - bad / n_chunks, {"oracle_mismatch_chunks": bad, "chunks": n_chunks}


def check_query(query_dir: str, results: dict[str, list], corrupt: bool) -> tuple[float, dict]:
    """Each query's top-5 vs ``HYBRID_RRF_SQL`` for the same query id."""
    fixed = "WHERE vec_id = 0"
    if HYBRID_RRF_SQL.count(fixed) != 1:
        raise RuntimeError("HYBRID_RRF_SQL no longer pins the query to vec_id 0")
    con = _connect()
    for name, files in (("documents", "documents.parquet/*.parquet"),
                        ("embeddings", "embeddings.parquet")):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM"
            f" read_parquet('{query_dir}/{files}')"
        )
    bad = 0
    for i, (q, rows) in enumerate(sorted(results.items())):
        got = [tuple(r) for r in rows]
        if corrupt and i == 0:
            got[0] = got[0][:3] + (got[0][3] + 1.0,)
        want = con.execute(
            HYBRID_RRF_SQL.replace(fixed, f"WHERE vec_id = {int(q)}")
        ).fetchall()
        bad += got != [tuple(r) for r in want]
    con.close()
    return 1.0 - bad / len(results), {"oracle_mismatch_queries": bad,
                                     "queries": len(results)}
