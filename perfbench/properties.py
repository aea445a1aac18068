"""Property checks for declared queries that have no oracle SQL.

Each takes a DuckDB connection over the run's input tables, the engine's
output columns and rows, and returns None when the property holds, else a
one-line description of the first violation.
"""

# Exact token-set Jaccard of every document pair at or above a threshold,
# with the 4-dp floor rounding the engine's similarity keys use.
EXACT_JACCARD = (
    "WITH t AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks "
    "FROM documents) "
    "SELECT a.doc_id, b.doc_id, floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
    "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))*10000 + 0.5)/10000 "
    "FROM t a JOIN t b ON a.doc_id < b.doc_id "
    "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
    "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= {threshold}")


def lsh_pairs(threshold):
    """MinHash/LSH near-duplicate pairs: each reported pair is a real pair of
    distinct documents whose exact Jaccard passes the threshold and equals
    the reported value. LSH may miss pairs; it may not invent them."""
    def check(con, cols, rows):
        if cols[:3] != ["doc_a", "doc_b", "jaccard"]:
            return f"columns {cols}"
        exact = {(a, b): j for a, b, j in
                 con.execute(EXACT_JACCARD.format(threshold=threshold)).fetchall()}
        for a, b, j in (r[:3] for r in rows):
            if (a, b) not in exact:
                return f"pair ({a}, {b}) is not a pair with Jaccard >= {threshold}"
            if exact[(a, b)] != j:
                return f"pair ({a}, {b}): Jaccard {j} != exact {exact[(a, b)]}"
        if len({(r[0], r[1]) for r in rows}) != len(rows):
            return "a pair repeats"
        return None
    return check


PROPERTIES = {
    "q25_minhash_neardup": lsh_pairs(0.8),
}
