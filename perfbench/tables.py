"""Generated tables for the curation_mix workload.

The shapes follow the engine's test tables (a TPC-H-like star schema plus a
document corpus and an embedding table), at a size where one pass over the
query mix takes a few seconds on four cores. The tables are fixed: they
come from a constant generator seed, so each query's result digest can be
pinned in `curation_expected.json`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
VOCAB = {
    "en": ("the a of and to in is it on for with as was at by".split(),
           "data table query join scan sort merge key value row column batch stream "
           "window agg group filter spark part order line customer fast slow big small "
           "hash index cache page block node graph edge vertex model train token text".split()),
    "es": ("el la de que y en los se del las un por con una".split(),
           "datos tabla consulta unir orden clave valor fila columna lote flujo ventana "
           "grupo filtro parte pedido linea cliente rapido lento grande".split()),
    "de": ("der die und ist das den von zu mit sich des auf nicht ein".split(),
           "daten tabelle abfrage sortieren schluessel wert zeile spalte stapel strom "
           "fenster gruppe filter teil auftrag kunde schnell langsam gross".split()),
    "fr": ("le la et les des est un une du en que qui dans pour".split(),
           "donnees table requete trier cle valeur ligne colonne lot flux fenetre groupe "
           "filtre partie commande client rapide lent grand petit".split()),
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

SIZES = {"customer": 1500, "orders": 15000, "parts": 2000, "documents": 500,
         "embeddings": 500}


def _documents(rng, n):
    langs = list(VOCAB)
    texts, lang_col = [], []
    for i in range(n):
        kind = rng.random()
        if texts and kind < 0.08:  # exact duplicate of an earlier document
            j = int(rng.integers(len(texts)))
            texts.append(texts[j]); lang_col.append(lang_col[j]); continue
        if texts and kind < 0.2:  # near duplicate: a few words replaced
            j = int(rng.integers(len(texts)))
            words = texts[j].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(len(words)))] = "edit%d" % int(rng.integers(1000))
            texts.append(" ".join(words)); lang_col.append(lang_col[j]); continue
        lang = langs[int(rng.integers(len(langs)))] if rng.random() < 0.6 else "en"
        stop, content = VOCAB[lang]
        k = int(rng.integers(10, 90))
        words = [stop[int(rng.integers(len(stop)))] if rng.random() < 0.35
                 else content[int(rng.integers(len(content)))] for _ in range(k)]
        texts.append(" ".join(words)); lang_col.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang_col),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centres = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centres[label] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _ts(rng, n):
    base = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 2400, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, type=pa.timestamp("us"))


def write(out_dir):
    """Writes the seven tables as `<name>.parquet`; returns their total rows."""
    rng = np.random.default_rng(GENERATOR_SEED)
    os.makedirs(out_dir, exist_ok=True)
    nc, no, npart = SIZES["customer"], SIZES["orders"], SIZES["parts"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)]),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, no), 2)),
        "o_orderdate": _ts(rng, no),
        "o_orderpriority": pa.array([("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW")[i] for i in rng.integers(0, 5, no)]),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no, dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, nl).astype(np.int64)),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines])
                                 .astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(rng, nl),
    })
    tables = {"customer": customer, "orders": orders, "lineitem": lineitem,
              "documents": _documents(rng, SIZES["documents"]),
              "embeddings": _embeddings(rng, SIZES["embeddings"])}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
    return sum(t.num_rows for t in tables.values())
