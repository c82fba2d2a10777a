"""Seeded input generator. Writes only inputs; never touches a store.

Every table is drawn from ``numpy.random.default_rng(seed)`` so the
same seed gives byte-identical parquet files:

* ``documents.parquet`` — a synthetic corpus shaped like the TPC-H-ish
  test data the registry was written against (30-word vocabulary,
  10-100 tokens per doc, five languages, twenty sources, ~5 % near
  duplicates carrying an extra ``dup`` token, a few exact duplicates)
  with fresh, sparse doc ids;
* ``embeddings.parquet``, ``lineitem.parquet``, ``orders.parquet``,
  ``customer.parquet`` — the other tables the swept registry queries
  read;
* the documents of each incremental pages batch (``increments``), the
  NE-only mention batches (``mention_batch``) and the dump request mix
  (``dump_mix``).

Pages are made from a documents dir by ``fixtures.materialize_pages``.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# disjoint from every generated doc id (those stay below 10**9)
ORPHAN_BASE = 10**12


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so resizing one input never
    reshuffles another."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _write(df: pd.DataFrame, path: Path) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return str(path)


def documents(seed: int, n: int, id_base: int = 0) -> pd.DataFrame:
    r = rng_for(seed, f"documents{id_base}")
    ids = np.sort(r.choice(10**8, size=n, replace=False)) + id_base
    lens = r.integers(10, 101, size=n)
    words = r.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[pos : pos + k]]))
        pos += k
    # near duplicates: an earlier doc's text plus one extra token;
    # exact duplicates: an earlier doc's text verbatim
    for i in np.flatnonzero(r.random(n) < 0.05):
        if i:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    for i in np.flatnonzero(r.random(n) < 0.002):
        if i:
            texts[i] = texts[int(r.integers(0, i))]
    return pd.DataFrame(
        {
            "doc_id": ids.astype("int64"),
            "text": texts,
            "lang": LANGS[r.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i}" for i in r.integers(0, 20, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def registry_tables(seed: int, out: Path, n_docs: int, n_vec: int,
                    n_orders: int) -> str:
    """The registry sweep's input dir (the ``sf_dir`` of QUERIES)."""
    out.mkdir(parents=True, exist_ok=True)
    _write(documents(seed, n_docs), out / "documents.parquet")
    r = rng_for(seed, "embeddings")
    emb = r.standard_normal((n_vec, 64)).astype("float32")
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(n_vec, dtype="int64"),
                "embedding": list(emb),
                "label": r.integers(0, 10, size=n_vec).astype("int32"),
            }
        ),
        out / "embeddings.parquet",
    )
    r = rng_for(seed, "tpch")
    n_cust = max(n_orders // 10, 20)
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
                "c_nationkey": r.integers(0, 25, size=n_cust).astype("int32"),
                "c_acctbal": np.round(r.uniform(-999, 9999, n_cust), 2),
                "c_mktsegment": r.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
                     "HOUSEHOLD"], size=n_cust),
            }
        ),
        out / "customer.parquet",
    )
    # prices carry whole cents: every rounded sum is exact, so the
    # Spark and DuckDB round(…, 2) never straddle a half-cent
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(1, n_orders + 1, dtype="int64"),
                "o_custkey": r.integers(1, n_cust + 1, size=n_orders),
                "o_orderstatus": r.choice(["F", "O", "P"], size=n_orders),
                "o_totalprice": r.integers(100_000, 50_000_000, n_orders) / 100,
                "o_orderdate": (pd.to_datetime("1992-01-01")
                + pd.to_timedelta(r.integers(0, 2400, n_orders), unit="D")
                ).astype("datetime64[us]"),
                "o_orderpriority": r.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"], size=n_orders),
            }
        ),
        out / "orders.parquet",
    )
    n_li = n_orders * 4
    # integral prices × whole-percent discounts: each revenue term has
    # at most two decimals (same half-cent reasoning as above)
    _write(
        pd.DataFrame(
            {
                "l_orderkey": r.integers(1, n_orders + 1, size=n_li),
                "l_partkey": r.integers(1, 20_000, size=n_li),
                "l_suppkey": r.integers(1, 1_000, size=n_li),
                "l_linenumber": r.integers(1, 8, size=n_li).astype("int32"),
                "l_quantity": r.integers(1, 51, size=n_li).astype("float64"),
                "l_extendedprice": r.integers(900, 100_000, n_li).astype(
                    "float64"),
                "l_discount": r.integers(0, 11, size=n_li) / 100,
                "l_tax": r.integers(0, 9, size=n_li) / 100,
                "l_returnflag": r.choice(["A", "N", "R"], size=n_li),
                "l_linestatus": r.choice(["F", "O"], size=n_li),
                "l_shipdate": (pd.to_datetime("1992-01-02")
                + pd.to_timedelta(r.integers(0, 2500, n_li), unit="D")
                ).astype("datetime64[us]"),
            }
        ),
        out / "lineitem.parquet",
    )
    return str(out)


def corpus(seed: int, out: Path, n_docs: int) -> str:
    """A documents dir for ``fixtures.materialize_pages`` (the pages
    carrier the ``build`` command reads)."""
    out.mkdir(parents=True, exist_ok=True)
    _write(documents(seed, n_docs), out / "documents.parquet")
    return str(out)


def increments(seed: int, base: pd.DataFrame, n_batches: int,
               batch_docs: int, reingest_share: float) -> list[pd.DataFrame]:
    """Documents for each pages increment: ``reingest_share`` of a
    batch repeats stored docs verbatim (re-ingested pages), the rest
    are new ids. Re-ingested rows are exact copies, so a single build
    over the union of all inputs is the well-defined comparison."""
    r = rng_for(seed, "increments")
    fresh = documents(seed, n_batches * batch_docs, id_base=10**8)
    n_old = int(round(batch_docs * reingest_share))
    out = []
    for b in range(n_batches):
        new = fresh.iloc[b * (batch_docs - n_old):(b + 1) * (batch_docs - n_old)]
        old = base.iloc[r.choice(len(base), size=n_old, replace=False)]
        out.append(pd.concat([old, new], ignore_index=True))
    return out


def mention_batch(seed: int, batch: int, doc_ids: np.ndarray, n: int,
                  n_orphans: int) -> pd.DataFrame:
    """NE-only mentions (MENTION_SCHEMA) for stored docs plus
    ``n_orphans`` mentions of doc ids no input ever contains."""
    r = rng_for(seed, f"mentions{batch}")
    cats = np.array(["PERSON", "ORGANIZATION", "LOCATION"])
    names = np.array([f"name{i}" for i in range(200)])
    targets = [f"doc-{d}" for d in r.choice(doc_ids, size=n)]
    targets += [f"doc-{ORPHAN_BASE + batch * 10_000 + i}"
                for i in range(n_orphans)]
    k = len(targets)
    norms = names[r.integers(0, len(names), size=k)]
    return pd.DataFrame(
        {
            "id": [f"m-{seed}-{batch}-{i}" for i in range(k)],
            "documentId": targets,
            "category": cats[r.integers(0, 3, size=k)],
            "mention": [s.title() for s in norms],
            "mentionNorm": norms,
            "mentionNormTextLength": np.array([len(s) for s in norms],
                                              dtype="int32"),
            "extractor": r.choice(["CORENLP", "SPACY"], size=k),
            "extractorLanguage": "en",
            "offsets": [[int(o)] for o in r.integers(0, 500, size=k)],
            "metadata": [None] * k,
        }
    )


def dump_mix(seed: int, n: int) -> list[dict]:
    """Widget-shaped dump requests: the default query, a doc-property
    ``where``, and an entity-anchored match on a category label, each
    in both output formats at a few limits, in a fixed cycle (the seed
    picks the path prefix and the category). Every shape orders by
    ``doc.path`` so the dumped subgraph is fully determined."""
    r = rng_for(seed, "dumps")
    order = [{"property": {"variable": "doc", "name": "path"},
              "direction": "asc"}]
    out = []
    for i in range(n):
        shape = ("default", "where", "entity")[i % 3]
        fmt = ("graphml", "cypher-shell")[i % 2]
        limit = (1000, 500, 200)[(i // 6) % 3]
        if shape == "default":
            query = None
        elif shape == "where":
            query = {"matches": [{"path": {"nodes": [
                {"name": "doc", "labels": ["Document"]}]}}],
                "where": {"startsWith": {
                    "property": {"variable": "doc", "name": "path"},
                    "value": {"literal": f"dirname-{int(r.integers(1, 10))}"}}},
                "orderBy": order}
        else:
            cat = str(r.choice(["PERSON", "ORGANIZATION", "LOCATION"]))
            query = {"matches": [{"path": {
                "nodes": [{"name": "doc", "labels": ["Document"]},
                          {"name": "ne", "labels": ["NamedEntity", cat]}],
                "relationships": [{"types": ["APPEARS_IN"],
                                   "direction": "from"}]}}],
                "orderBy": order}
        out.append({"shape": shape, "format": fmt, "limit": limit,
                    "query": {"queries": [query]} if query else None})
    return out
