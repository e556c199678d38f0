#!/usr/bin/env python3
"""Shape of a benchmark input, to compare the generated inputs with a
test corpus (README.md, "Inputs").

For a documents table: document count, words per document, share of
" dup" copies, and the simhash near-duplicate graph the graph queries
run on (pairs, nodes, components, largest component). The pairs come
from the same DuckDB pair mining as the queries' oracle SQL
(Queries.simhashPairsSql: 32-bit simhash of md5 token hashes, band
join on the 4 bytes, Hamming distance <= 3).
For an events table: rows, keys, events per key, event-type shares,
value quantiles and time span.

Usage: python3 perfbench/shape.py PATH/documents.parquet PATH/events.parquet ...
"""
import sys

import duckdb

M = 2147483647
TOKS = r"""list_filter(string_split_regex(regexp_replace(lower(text), '[(),";:''.]', '', 'g'), '\s+'), x -> x != '')"""
H31 = f"('0x' || substr(md5(t), 1, 15))::BIGINT % {M}"


def pairs_sql(path):
    return f"""WITH t0 AS (SELECT doc_id, {TOKS} AS tk FROM '{path}'),
     hs AS (SELECT doc_id, list_transform(tk, t -> {H31}) AS h FROM t0 WHERE len(tk) > 0),
     sums AS (SELECT doc_id, list_transform(range(0, 32), j -> CAST(list_sum(list_transform(h, x ->
                CASE WHEN (x // (1::BIGINT << j)) % 2 = 1 THEN 1 ELSE -1 END)) AS BIGINT)) AS sm FROM hs),
     s AS (SELECT doc_id AS id, CAST(list_sum(list_transform(range(0, 32), j ->
             CASE WHEN sm[j+1] > 0 THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sim FROM sums),
     bd AS (SELECT id, sim, k, (sim >> (8*k)) & 255 AS byte FROM s CROSS JOIN range(0, 4) tt(k))
     SELECT DISTINCT a.id, b.id FROM bd a JOIN bd b ON a.k = b.k AND a.byte = b.byte AND a.id < b.id
     WHERE bit_count(xor(a.sim, b.sim)) <= 3"""


def components(pairs):
    """Component sizes of the graph with edge list `pairs`, largest first."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    sizes = {}
    for x in list(parent):
        sizes[find(x)] = sizes.get(find(x), 0) + 1
    return sorted(sizes.values(), reverse=True)


def documents(con, path):
    n, words, dups = con.sql(f"""SELECT count(*), avg(len(string_split(text, ' '))),
        count(*) FILTER (WHERE text LIKE '% dup') FROM '{path}'""").fetchone()
    vocab = con.sql(f"SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM '{path}')").fetchone()[0]
    pairs = con.sql(pairs_sql(path)).fetchall()
    sizes = components(pairs)
    return {"documents": n, "vocabulary": vocab, "words_per_doc": round(words, 2),
            "dup_share": round(dups / n, 4), "pairs": len(pairs), "nodes": sum(sizes),
            "components": len(sizes), "largest_component": sizes[0] if sizes else 0}


def events(con, path):
    rows, keys, lo, hi = con.sql(f"SELECT count(*), count(DISTINCT user_id), min(ts), max(ts) FROM '{path}'").fetchone()
    per_key = con.sql(f"""SELECT min(c), stddev(c), max(c)
        FROM (SELECT count(*) c FROM '{path}' GROUP BY user_id)""").fetchone()
    types = con.sql(f"SELECT event_type, count(*) FROM '{path}' GROUP BY 1 ORDER BY 1").fetchall()
    q = con.sql(f"SELECT quantile_cont(value, [0.1, 0.5, 0.9, 0.99]) FROM '{path}'").fetchone()[0]
    return {"events": rows, "keys": keys, "per_key_min_sd_max": [per_key[0], round(per_key[1], 2), per_key[2]],
            "type_shares": {t: round(c / rows, 3) for t, c in types},
            "value_p10_p50_p90_p99": [round(v, 2) for v in q], "span": f"{lo} .. {hi}"}


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    con = duckdb.connect()
    for path in sys.argv[1:]:
        cols = [c[0] for c in con.sql(f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
        shape = documents(con, path) if "text" in cols else events(con, path)
        print(path, shape)


if __name__ == "__main__":
    main()
