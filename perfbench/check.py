"""Output checks for llm_corpus: the ingest job's output against DuckDB
running the same job over the same raw file, and the dedup results
against the generator's planted truth. The check returns the set of
operation indexes whose output is wrong, plus printable detail. The
DuckDB comparison is exact: every value is compared as text and rows as
multisets (EXCEPT ALL both ways), the total-order rule with the order
taken out. The cdc_stream check runs in the JVM (CdcStream.compare).
"""
import json
import os

import duckdb
import pyarrow.parquet as pq

INGEST_ORACLE = """
    SELECT doc_id AS id, body AS text,
           split_part(regexp_replace(url, '^https?://', ''), '/', 1) AS host
    FROM read_json('{raw}', format = 'newline_delimited',
                   columns = {{'doc_id': 'BIGINT', 'url': 'VARCHAR', 'body': 'VARCHAR'}})
    WHERE body IS NOT NULL"""


def _as_text(rel, cols):
    return "SELECT " + ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in cols) + f" FROM {rel}"


def ingest_diff(con, raw, out, corrupt=False):
    """Rows of the ingest job's parquet output that differ from DuckDB's
    run of the same job over the same raw file ('' when equal)."""
    con.execute("CREATE OR REPLACE TEMP TABLE exp AS " + INGEST_ORACLE.format(raw=raw))
    cols = [r[0] for r in con.execute("DESCRIBE exp").fetchall()]
    got = f"(SELECT * FROM read_parquet('{out}/*.parquet'))"
    have = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall()]
    if sorted(have) != sorted(cols):
        return f"columns {sorted(have)} != {sorted(cols)}"
    if corrupt:  # self-test: drop one output row before comparing
        got = f"(SELECT * FROM {got} QUALIFY row_number() OVER () > 1)"
    exp, act = _as_text("exp", cols), _as_text(got, cols)
    missing = con.execute(f"SELECT count(*) FROM ({exp} EXCEPT ALL {act})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({act} EXCEPT ALL {exp})").fetchone()[0]
    return f"{missing} expected rows missing, {extra} unexpected rows" if missing or extra else ""


def check_llm(in_dir, corpus_ops, delta_ops, corrupt=False):
    """corpus_ops: [(index, round dir)]; delta_ops: [(index, round dir,
    delta number)]. The ingest output must equal DuckDB's; kept corpus
    ids, languages and word counts must equal the planted truth; the
    signature store must hold exactly the kept corpus plus every delta's
    kept ids."""
    with open(os.path.join(in_dir, "truth.json"), encoding="utf-8") as f:
        truth = json.load(f)
    bad, lines = set(), []
    con = duckdb.connect()
    kept = set(truth["kept"])
    corpus_ids = set(truth["corpus_ids"])
    store_ids = {}

    def store_of(d):
        if d not in store_ids:
            t = pq.read_table(os.path.join(d, "store", "shingles"), columns=["doc"])
            store_ids[d] = set(t.column("doc").to_pylist())
        return store_ids[d]

    for idx, d in corpus_ops:
        try:
            t = pq.read_table(os.path.join(d, "kept"), columns=["id", "lang", "g_n_words"]).to_pydict()
            ids = t["id"][1:] if corrupt else t["id"]
            got = set(ids)
            errs = []
            diff = ingest_diff(con, os.path.join(in_dir, "corpus.json"), os.path.join(d, "ingested"), corrupt)
            if diff:
                errs.append(f"ingest output: {diff}")
            if got != kept or len(ids) != len(got):
                errs.append(f"kept ids: {len(got - kept)} extra, {len(kept - got)} missing, "
                            f"{len(ids) - len(got)} repeated, "
                            f"{len(got & set(truth['contaminated']))} contaminated kept")
            wrong_lang = sum(1 for i, l in zip(t["id"], t["lang"]) if truth["lang"].get(str(i)) != l)
            wrong_words = sum(1 for i, w in zip(t["id"], t["g_n_words"])
                              if truth["n_words"].get(str(i)) != w)
            if wrong_lang or wrong_words:
                errs.append(f"{wrong_lang} wrong languages, {wrong_words} wrong word counts")
            if store_of(d) & corpus_ids != kept:
                errs.append("signature store does not hold exactly the kept corpus")
            if errs:
                raise ValueError("; ".join(errs))
        except Exception as e:  # noqa: BLE001
            bad.add(idx)
            lines.append(f"llm corpus#{idx}: {str(e).splitlines()[0][:300]}")
    for idx, d, k in delta_ops:
        try:
            delta = truth["deltas"][k]
            got = store_of(d) & set(delta["ids"])
            if corrupt:
                got = got ^ {delta["ids"][0]}
            if got != set(delta["kept"]):
                raise ValueError(f"delta {k}: {len(got - set(delta['kept']))} near-dups kept, "
                                 f"{len(set(delta['kept']) - got)} fresh docs dropped")
        except Exception as e:  # noqa: BLE001
            bad.add(idx)
            lines.append(f"llm delta#{idx}: {str(e).splitlines()[0][:300]}")
    return bad, lines
