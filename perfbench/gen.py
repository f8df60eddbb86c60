"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments (numpy ``default_rng``
streams), so one seed always yields the same inputs. Nothing in this module
imports the engine: the program under test only ever sees the files and
row lists produced here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

NS = "urn:x:"
P = NS + "p/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD_LONG = "http://www.w3.org/2001/XMLSchema#long"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


# ------------------------------------------------------------ star schema

def star_schema(customers: int, seed: int = 7) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables (FIXTURES.md section 1 schemas) with
    ``customers`` customers; the other tables scale with it as in TPC-H
    (10 orders per customer, 1-7 lines per order). Keys are unique, so the
    quad view has no duplicate statements."""
    rng = np.random.default_rng(seed)
    n_sup = max(5, customers // 15)
    n_part = max(10, customers * 4 // 3)
    n_ord = customers * 10
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": REGIONS})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{k:02d}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = pd.DataFrame({
        "c_custkey": np.arange(1, customers + 1, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(1, customers + 1)],
        "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": rng.choice(SEGMENTS, customers)})
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(1, n_sup + 1, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(1, n_sup + 1)],
        "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_sup), 2)})
    part = pd.DataFrame({
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": [f"part {k}" for k in range(1, n_part + 1)],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": rng.choice(["STANDARD BRASS", "SMALL TIN", "LARGE COPPER",
                              "PROMO STEEL", "ECONOMY NICKEL"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)})
    start = np.datetime64("1992-01-01")
    o_days = rng.integers(0, 2400, n_ord)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, customers + 1, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": (start + o_days.astype("timedelta64[D]"))
        .astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    n_lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(orders["o_orderkey"].to_numpy(), n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(o_days, n_lines) + rng.integers(1, 122, n_li)
    lineitem = pd.DataFrame({
        "l_orderkey": l_ord.astype(np.int64),
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_sup + 1, n_li).astype(np.int64),
        "l_linenumber": l_num.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": (start + ship.astype("timedelta64[D]"))
        .astype("datetime64[us]")})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


# ------------------------------------------------------- versioned ingest

def _nt_triple(s: str, p: str, o: str) -> str:
    return f"<{s}> <{p}> {o} ."


def version_files(out_dir: str, seed: int, versions: int,
                  subjects: int) -> list[tuple[str, int]]:
    """``versions`` N-Triples files of ``subjects`` products with four
    statements each; returns ``[(path, n_triples)]``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for v in range(versions):
        path = os.path.join(out_dir, f"version{v}.nt")
        lines = []
        prices = rng.integers(1, 100_000, subjects)
        stock = rng.integers(0, 500, subjects)
        for i in range(subjects):
            s = f"urn:v{v}:product/{i}"
            stmts = {
                RDF_TYPE: f"<{NS}t/Product>",
                P + "price": f'"{prices[i]}"^^<{XSD_LONG}>',
                P + "stock": f'"{stock[i]}"^^<{XSD_LONG}>',
                P + "label": f'"product {v}-{i}"'}
            lines.extend(_nt_triple(s, p, o) for p, o in stmts.items())
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        out.append((path, len(lines)))
    return out


def batch_quads(batch: int, size: int, graph: str) -> str:
    """Body of one ground INSERT/DELETE DATA batch: ``size`` statements
    ``<urn:batch:B/j> p:batch B``, so a reader can count every batch's
    statements (torn-batch check)."""
    stmts = " . ".join(f"<urn:batch:{batch}/{j}> <{P}batch> {batch}"
                       for j in range(size))
    return f"GRAPH <{graph}> {{ {stmts} }}"


def message_files(out_dir: str, n: int, size: int, first_batch: int,
                  graph: str) -> list[int]:
    """A backlog of INSERT DATA message files (one update per file) for
    the streaming replay; returns the batch ids written."""
    os.makedirs(out_dir, exist_ok=True)
    ids = []
    for k in range(n):
        b = first_batch + k
        with open(os.path.join(out_dir, f"m{k:05d}.ru"), "w") as fh:
            fh.write("INSERT DATA { " + batch_quads(b, size, graph) + " }")
        ids.append(b)
    return ids


# ------------------------------------------------------------- inference

ABOX_GRAPH = "urn:g:abox"


def ontology(seed: int, instances: int, chain: int = 10):
    """TBox + ABox rows ``(g, s, p, o)`` (object IRIs only) for the
    inference workload, and the closed-form facts the checks need.

    TBox: a ``chain``-deep subClassOf chain C0 < C1 < ... < C{chain-1},
    a subPropertyOf pair, domain/range, one transitive property, one
    inverseOf pair, two disjointWith pairs off the chain (D0/D1, D2/D3).
    ABox: ``instances`` individuals typed into the chain and a leads /
    partOf network over them. No owl:sameAs: with one in the store every
    read after a write rebuilds the engine's sameAs view."""
    rng = np.random.default_rng([seed, 2])
    g = ABOX_GRAPH
    sc, sp = RDFS + "subClassOf", RDFS + "subPropertyOf"
    tbox = [(g, f"urn:C{i}", sc, f"urn:C{i + 1}") for i in range(chain - 1)]
    tbox += [
        (g, "urn:p:leads", sp, "urn:p:worksFor"),
        (g, "urn:p:worksFor", RDFS + "domain", "urn:Agent"),
        (g, "urn:p:worksFor", RDFS + "range", "urn:Org"),
        (g, "urn:p:partOf", RDF_TYPE, OWL + "TransitiveProperty"),
        (g, "urn:p:hasPart", OWL + "inverseOf", "urn:p:partOf"),
        (g, "urn:D0", OWL + "disjointWith", "urn:D1"),
        (g, "urn:D2", OWL + "disjointWith", "urn:D3"),
    ]
    cls = rng.integers(0, chain, instances)
    abox = [(g, f"urn:i{k}", RDF_TYPE, f"urn:C{int(cls[k])}")
            for k in range(instances)]
    n_rel = instances // 20
    src = rng.integers(0, instances, n_rel)
    dst = rng.integers(0, 200, n_rel)
    abox += [(g, f"urn:i{int(a)}", "urn:p:leads", f"urn:org{int(b)}")
             for a, b in zip(src, dst)]
    # partOf chains of length 4 among orgs: org(4k) -> org(4k+1) -> ...
    abox += [(g, f"urn:org{k}", "urn:p:partOf", f"urn:org{k + 1}")
             for k in range(200) if k % 4 != 3]
    return tbox, abox, {int(k): int(c) for k, c in enumerate(cls)}


# ------------------------------------------------------------- documents

#: words per generated document
WORDS = 60

def _vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def documents(seed: int, n_docs: int, exact_share: float = 0.08,
              near_share: float = 0.05):
    """``(docs DataFrame, truth)``: ``WORDS``-word documents with injected
    exact copies and near copies (last word replaced, word 3-gram Jaccard about
    0.97). Every original is copied at most once, so the duplicate pairs
    are exactly the injected ones. ``truth`` also lists the FTS probe
    terms with their token-exact document sets."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 4000)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    zipf = rng.zipf(1.3, size=(n_orig, WORDS)) % len(vocab)
    texts = [" ".join(vocab[int(i)] for i in row) for row in zipf]
    picks = rng.choice(n_orig, n_exact + n_near, replace=False)
    exact_src, near_src = picks[:n_exact], picks[n_exact:]
    texts += [texts[int(i)] for i in exact_src]
    for i in near_src:
        ws = texts[int(i)].split(" ")
        ws[-1] = "zzq" + ws[-1]
        texts.append(" ".join(ws))
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    df = pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": "en", "source": rng.choice(["web", "books", "code"], n_docs),
    })
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    df = df.sort_values("doc_id").reset_index(drop=True)
    return df, {"exact_pairs": n_exact, "near_pairs": n_near,
                "n_orig": n_orig, "vocab": vocab}


def embeddings(seed: int, n: int, dim: int = 32) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(size=(16, dim))
    lab = rng.integers(0, 16, n)
    vecs = centers[lab] + 0.3 * rng.normal(size=(n, dim))
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": [v.astype(np.float32).tolist()
                                       for v in vecs],
                         "label": lab.astype(np.int32)})
