"""Independent expectations the workloads' outputs are checked against.

Nothing here calls the program under test. ``ai_expected`` recomputes
the article-index update with DuckDB over the generated files; the
curation and vector checks recompute Jaccard and cosine with plain
Python and numpy.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import gen

# groupcover's default preference list (rank = 1-based position)
PREFS = ("85", "55", "89", "60", "50", "105", "101", "53", "49", "28", "48", "121")
DOAJ_COLLECTIONS = ("DOAJ Directory of Open Access Journals", "sid-28-col-doaj")


def _sql_list(values) -> str:
    return "[" + ", ".join("'" + str(v).replace("'", "''") + "'" for v in values) + "]"


def _tree_sql(tree: dict, issn_leaves: dict) -> str:
    """A filter tree as a DuckDB predicate over ``recs``; ISSN lists
    become leaf ids into ``issn_leaves`` (matched by a join)."""
    if len(tree) != 1:
        return _tree_sql({"and": [{k: v} for k, v in tree.items()]}, issn_leaves)
    ((op, arg),) = tree.items()
    if op in ("and", "or"):
        return "(" + f" {op.upper()} ".join(_tree_sql(t, issn_leaves) for t in arg) + ")"
    if op == "not":
        return f"(NOT {_tree_sql(arg, issn_leaves)})"
    if op == "source":
        return f"list_contains({_sql_list(arg)}, sid)"
    if op == "collection":
        return f"(len(list_intersect(coll, {_sql_list(arg)})) > 0)"
    if op == "issn":
        leaf = issn_leaves.setdefault(tuple(arg["list"]), len(issn_leaves))
        return f"(rec_id IN (SELECT rec_id FROM issn_hit WHERE leaf = {leaf}))"
    if op == "holdings":
        return (
            "(rec_id IN (SELECT rec_id FROM hold_match WHERE file IN ("
            + ", ".join(f"'{f}'" for f in arg["files"]) + ")))"
        )
    raise ValueError(f"unsupported filter node in generated config: {op}")


def ai_expected(inputs: str) -> dict:
    """Row count, OA-flag count and per-ISIL label counts of the
    exported index, computed by DuckDB from the generated files."""
    import duckdb

    now = gen.NOW.isoformat()
    config = gen.read_json(os.path.join(inputs, "filter_config.json"))
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"""
        CREATE TABLE cr AS SELECT * FROM read_ndjson('{inputs}/crossref/*.json', columns={{
            doi: 'VARCHAR', vid: 'BIGINT', indexed: 'BIGINT', type: 'VARCHAR',
            title1: 'VARCHAR', subtitle1: 'VARCHAR', container_title1: 'VARCHAR',
            member: 'VARCHAR', issn: 'VARCHAR[]', issued_year: 'INTEGER',
            issued_month: 'INTEGER', issued_day: 'INTEGER', created: 'VARCHAR'}});
        CREATE TABLE dj AS SELECT * FROM read_ndjson('{inputs}/doaj/*.json', columns={{
            oai_identifier: 'VARCHAR', title1: 'VARCHAR', identifiers: 'VARCHAR[]',
            relations: 'VARCHAR[]', date1: 'VARCHAR'}});
        CREATE TABLE latest AS SELECT * FROM cr
            QUALIFY row_number() OVER (PARTITION BY doi ORDER BY indexed DESC, vid DESC) = 1;
        CREATE TABLE recs AS
        SELECT '49' AS sid, doi, ['Crossref (member ' || member || ')'] AS coll,
               list_distinct(coalesce(issn, [])) AS issns,
               CAST(substr(created, 1, 10) AS DATE) AS rdate
        FROM latest
        WHERE doi IS NOT NULL AND doi <> ''
          AND nullif(concat_ws(' : ', title1, subtitle1), '') IS NOT NULL
          AND container_title1 IS NOT NULL AND container_title1 <> ''
          AND coalesce(type <> 'journal-issue', true)
          AND coalesce(length(doi) <= 180, true)
          AND coalesce(length(title1) <= 32000, true)
          AND coalesce(make_date(issued_year, issued_month, issued_day)
                       <= DATE '{now}' + INTERVAL 24 MONTH, true)
        UNION ALL
        SELECT '28', replace(list_filter(identifiers,
                        x -> regexp_matches(x, '10\\.[0-9]{{2,8}}/'))[1], 'https://doi.org/', ''),
               {_sql_list(DOAJ_COLLECTIONS)},
               list_distinct(list_filter(coalesce(relations, []),
                        x -> regexp_matches(x, '^[0-9]{{4}}-[0-9]{{3}}[0-9Xx]$'))),
               CAST(date1 AS DATE)
        FROM dj
        WHERE oai_identifier IS NOT NULL AND oai_identifier <> ''
          AND title1 IS NOT NULL AND title1 <> '';
        ALTER TABLE recs ADD COLUMN rec_id BIGINT;
        CREATE SEQUENCE rid; UPDATE recs SET rec_id = nextval('rid');
        CREATE TABLE kbart AS SELECT *, regexp_extract(filename, '([^/]+)$', 1) AS file
            FROM read_csv('{inputs}/kbart/*.tsv', delim='\t', header=true,
                          filename=true, all_varchar=true);
        CREATE TABLE hold AS
        SELECT DISTINCT file, ident, CAST(date_first_issue_online AS DATE) AS dfrom,
               CAST(date_last_issue_online AS DATE) AS dto, embargo_info AS embargo
        FROM (SELECT *, unnest(list_distinct(list_filter(
                  [print_identifier, online_identifier], x -> x IS NOT NULL))) AS ident
              FROM kbart);
        CREATE TABLE hold_match AS
        SELECT DISTINCT r.rec_id, h.file
        FROM (SELECT rec_id, rdate, unnest(issns) AS ident FROM recs) r
        JOIN hold h USING (ident)
        WHERE (h.dfrom IS NULL OR r.rdate >= h.dfrom)
          AND (h.dto IS NULL OR r.rdate <= h.dto)
          AND (h.embargo IS DISTINCT FROM 'R1Y'
               OR r.rdate <= DATE '{now}' - INTERVAL 12 MONTH);
        CREATE TABLE oa AS SELECT issn FROM read_csv('{inputs}/oa_issns.tsv', header=true,
                                                    all_varchar=true);
        """)
        leaves: dict = {}
        labels = ", ".join(
            f"CASE WHEN {_tree_sql(tree, leaves)} THEN '{isil}' END"
            for isil, tree in config.items()
        )
        con.execute(f"""
        CREATE TABLE issn_leaf AS {" UNION ALL ".join(
            f"SELECT {leaf} AS leaf, unnest({_sql_list(values)}) AS issn"
            for values, leaf in leaves.items())};
        CREATE TABLE rec_issn AS SELECT rec_id, unnest(issns) AS issn FROM recs;
        CREATE TABLE issn_hit AS
            SELECT DISTINCT rec_id, leaf FROM rec_issn JOIN issn_leaf USING (issn);
        CREATE TABLE labeled AS
        SELECT * FROM (
            SELECT rec_id, sid, lower(doi) AS key,
                   list_sort(list_filter([{labels}], x -> x IS NOT NULL)) AS labels,
                   rec_id IN (SELECT rec_id FROM rec_issn JOIN oa USING (issn)) AS oa
            FROM recs)
        WHERE len(labels) > 0;
        CREATE TABLE exploded AS
        SELECT rec_id, key, unnest(labels) AS lab,
               coalesce(list_position({_sql_list(PREFS)}, sid), 1000000) AS rnk, sid
        FROM labeled;
        CREATE TABLE final_labels AS
        SELECT rec_id, lab FROM exploded WHERE key IS NULL OR key = ''
        UNION ALL
        SELECT rec_id, lab FROM exploded WHERE key <> ''
        QUALIFY row_number() OVER (PARTITION BY key, lab ORDER BY rnk, sid, rec_id) = 1;
        """)
        rows, oa = con.execute("SELECT count(*), count(*) FILTER (WHERE oa) FROM labeled").fetchone()
        per_isil = dict(con.execute("SELECT lab, count(*) FROM final_labels GROUP BY lab").fetchall())
    finally:
        con.close()
    return {"rows": rows, "oa": oa, "per_isil": per_isil}


# -- curate_neardup ----------------------------------------------------------

def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


# -- semdedup_daily ----------------------------------------------------------

def unit_rows(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.float64)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def brute_force_drops(index_unit: np.ndarray, batch: np.ndarray, threshold: float) -> np.ndarray:
    """Positions of batch vectors whose exact best cosine against the
    index or an earlier batch vector reaches ``threshold``."""
    b = unit_rows(batch)
    best = (b @ index_unit.T).max(axis=1) if len(index_unit) else np.full(len(b), -1.0)
    within = b @ b.T
    within[np.triu_indices(len(b))] = -1.0
    best = np.maximum(best, within.max(axis=1))
    return np.nonzero(best >= threshold)[0]
