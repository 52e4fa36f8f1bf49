"""DuckDB oracles for the correctness gate.

The gate never asks the engine what the right answer is: ingest checks read
the raw JSON-lines files, and read checks run over a DuckDB table of the
documents the benchmark itself knows to be live (seed corpus with its
versions resolved, plus every applied upsert batch).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from solr_map_reduce_spark.extensions.search import bm25_oracle_sql

RAW_COLUMNS = (
    "{'id': 'VARCHAR', 'ver': 'BIGINT', 'lang': 'VARCHAR', 'source': 'VARCHAR', "
    "'text': 'VARCHAR', 'embedding': 'DOUBLE[]'}"
)


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    # -- ingest ------------------------------------------------------------
    def raw_max_ver(self, files: list[str]) -> dict[str, int]:
        """key -> max ``ver`` over the raw files (retain_most_recent)."""
        listing = ", ".join(f"'{f}'" for f in files)
        rows = self.con.sql(
            f"SELECT id, max(ver) FROM read_json([{listing}], "
            f"format='newline_delimited', columns={RAW_COLUMNS}) GROUP BY id"
        ).fetchall()
        return {k: int(v) for k, v in rows}

    # -- reads over the live document set ------------------------------------
    def load(self, docs: dict[str, dict]) -> None:
        """Replace the ``documents`` table with the live documents."""
        frame = pd.DataFrame(list(docs.values()))  # noqa: F841 - read by DuckDB
        self.con.execute(
            "CREATE OR REPLACE TABLE documents AS SELECT id AS doc_id, id, ver, "
            "lang, source, text, string_split(text, ' ') AS t, "
            "CAST(embedding AS DOUBLE[]) AS embedding FROM frame"
        )

    def search(self, q_terms: list[str], lang: str) -> list[tuple]:
        preds = " AND ".join(f"list_contains(t, '{x}')" for x in q_terms)
        return self.con.sql(
            f"SELECT id, ver, lang FROM documents WHERE {preds} AND lang = '{lang}' "
            "ORDER BY ver DESC, id LIMIT 10"
        ).fetchall()

    def facet(self, term: str) -> list[tuple]:
        return self.con.sql(
            f"SELECT source, count(*) AS cnt FROM documents "
            f"WHERE list_contains(t, '{term}') GROUP BY source "
            "ORDER BY cnt DESC, source"
        ).fetchall()

    def bm25(self, terms: list[str]) -> dict[str, float]:
        return dict(self.con.sql(bm25_oracle_sql(terms, k=None)).fetchall())

    def knn(self, vec: list[float], k: int = 10) -> list[str]:
        lit = "[" + ", ".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"
        return [
            r[0] for r in self.con.sql(
                f"SELECT id FROM documents ORDER BY "
                f"list_cosine_similarity(embedding, {lit}) DESC, id LIMIT {k}"
            ).fetchall()
        ]


def bm25_matches(got: list[tuple], want: dict[str, float], k: int = 10) -> bool:
    """Engine top-k (id, score) against the oracle's full score map: every
    returned id carries the oracle's score, and the returned scores are the
    oracle's k best (ties at the cut may pick either id)."""
    best = sorted(want.values(), reverse=True)[:k]
    if len(got) != len(best):
        return False
    for (doc, score), ref in zip(got, best):
        if doc not in want or not math.isclose(score, want[doc], rel_tol=1e-9):
            return False
        if not math.isclose(score, ref, rel_tol=1e-9):
            return False
    return True
