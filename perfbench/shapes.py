"""Measure the input shapes the generator reproduces.

    python3 perfbench/shapes.py <sf0.1 directory>

Reads the repository's sf0.1 test tables (``documents.parquet``,
``embeddings.parquet`` and ``events.parquet``) with DuckDB and NumPy and
writes ``perfbench/shapes.json``. The benchmark itself never reads those
tables: a run may read only its checkout, so the generator (``gen.py``)
draws its inputs from the committed ``shapes.json`` instead. Re-run this
script only when the test tables change, then re-derive the digests in
``expected.json``.

Quantiles are 21 points (0, 5, ..., 100 %); ``gen.py`` samples them by
linear interpolation of the inverse CDF.
"""

import json
import os
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
Q = [i / 20 for i in range(21)]


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    d = sys.argv[1]
    c = duckdb.connect()

    def one(sql):
        return c.sql(sql).fetchall()[0]

    def table(name):
        return f"'{os.path.join(d, name + '.parquet')}'"

    docs, emb, ev = table("documents"), table("embeddings"), table("events")

    n_docs, n_texts = one(f"select count(*), count(distinct text) from {docs}")
    lang = dict(c.sql(f"select lang, count(*) / {n_docs} from {docs} group by 1 order by 1").fetchall())
    n_sources = one(f"select count(distinct source) from {docs}")[0]
    # a near duplicate is a document whose text minus its last token is
    # another document's text; in sf0.1 that token is always the same
    near, suffix = one(f"""
        with t as (select text, regexp_replace(text, ' [^ ]+$', '') stem,
                          regexp_extract(text, '[^ ]+$') last_tok from {docs})
        select count(*), mode(last_tok) from t where stem in (select text from {docs})""")
    base = f"(select text from {docs} where not ends_with(text, ' {suffix}'))"
    tokens = one(f"select quantile_cont(len(string_split(text, ' ')), {Q}) from {base}")[0]
    words = c.sql(f"""select w, count(*) n from (select unnest(string_split(text, ' ')) w from {base})
                      group by 1 order by n desc, w""").fetchall()

    vecs = c.sql(f"select embedding, label from {emb} order by vec_id").fetchall()
    x = np.array([v for v, _ in vecs], dtype=np.float64)
    lab = np.array([l for _, l in vecs])
    labels = sorted(set(lab.tolist()))
    centroids = np.array([x[lab == l].mean(0) for l in labels])
    resid = x - centroids[np.searchsorted(labels, lab)]

    n_ev, n_ids, n_users = one(f"select count(*), count(distinct event_id), count(distinct user_id) from {ev}")
    types = dict(c.sql(f"select event_type, count(*) / {n_ev} from {ev} group by 1 order by 1").fetchall())
    gaps = one(f"""select quantile_cont(g, {Q}) from (
                   select epoch(ts) - epoch(lag(ts) over (order by ts, event_id)) g from {ev})""")[0]
    values = one(f"select quantile_cont(value, {Q}) from {ev}")[0]
    per_user = one(f"select quantile_cont(n, {Q}) from (select count(*) n from {ev} group by user_id)")[0]

    shapes = {
        "source": "measured by perfbench/shapes.py from the sf0.1 test tables",
        "documents": {
            "rows": n_docs,
            "lang_shares": {k: round(v, 4) for k, v in lang.items()},
            "sources": n_sources,
            "exact_dup_share": round((n_docs - n_texts) / n_docs, 5),
            "near_dup_share": round(near / n_docs, 5),
            "near_dup_suffix": suffix,
            "token_quantiles": [round(v, 3) for v in tokens],
            "word_counts": [[w, n] for w, n in words],
        },
        "embeddings": {
            "rows": len(vecs), "dim": x.shape[1],
            "label_shares": [round(float((lab == l).mean()), 4) for l in labels],
            "centroids": [[round(float(v), 5) for v in row] for row in centroids],
            "residual_std": round(float(resid.std()), 5),
        },
        "events": {
            "rows": n_ev, "users": n_users,
            "redelivered_share": round((n_ev - n_ids) / n_ev, 5),
            "type_shares": {k: round(v, 4) for k, v in types.items()},
            "gap_s_quantiles": [round(v, 4) for v in gaps],
            "value_quantiles": [round(v, 3) for v in values],
            "events_per_user_quantiles": [round(v, 2) for v in per_user],
        },
    }
    with open(os.path.join(HERE, "shapes.json"), "w") as f:
        json.dump(shapes, f, indent=1, ensure_ascii=False)
        f.write("\n")


if __name__ == "__main__":
    main()
