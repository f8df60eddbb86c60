"""sparql_read: SPARQL SELECT/ASK served over HTTP from a warm durable
store, two closed-loop clients, no writes.

The dataset is fixed per checkout (the TPC-H-shaped quad view of
``gen.star_schema``, built once into ``.perfbench_work/warm/`` by the
engine itself: ``DurableQuadStore.add_quads`` lands the bucketed base, the
first encoded query publishes the term dictionary). The seed draws the
request stream: template, parameters and result format. Answers are
checked after the timed phase against DuckDB over the same parquet tables.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np

import answers
import gen
import harness as H

PX = "PREFIX p: <urn:x:p/> "
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]

#: template -> (class, SPARQL, DuckDB SQL, parameter domain)
TEMPLATES = {
    "customer": ("lookup",
                 PX + "SELECT ?name ?bal WHERE {{ <urn:x:customer/{k}> "
                      "p:c_name ?name ; p:c_acctbal ?bal }}",
                 "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = {k}",
                 "customers"),
    "orders_of": ("lookup",
                  PX + "SELECT ?o ?price WHERE {{ ?o p:o_custkey "
                       "<urn:x:customer/{k}> ; p:o_totalprice ?price }}",
                  "SELECT 'urn:x:orders/' || o_orderkey, o_totalprice "
                  "FROM orders WHERE o_custkey = {k}",
                  "customers"),
    "status_ask": ("lookup",
                   PX + "ASK {{ <urn:x:orders/{k}> p:o_orderstatus \"F\" }}",
                   "SELECT count(*) > 0 FROM orders WHERE o_orderkey = {k} "
                   "AND o_orderstatus = 'F'",
                   "orders"),
    "segment_star": ("analytic",
                     PX + "SELECT ?c ?name ?bal WHERE {{ ?c p:c_mktsegment "
                          "\"{k}\" ; p:c_name ?name ; p:c_acctbal ?bal ; "
                          "p:c_nationkey ?n }}",
                     "SELECT 'urn:x:customer/' || c_custkey, c_name, c_acctbal "
                     "FROM customer WHERE c_mktsegment = '{k}'",
                     "segments"),
    "nation_chain": ("analytic",
                     PX + "SELECT ?l ?qty WHERE {{ ?l p:l_orderkey ?o ; "
                          "p:l_quantity ?qty . ?o p:o_custkey ?c . "
                          "?c p:c_nationkey <urn:x:nation/{k}> }}",
                     "SELECT 'urn:x:lineitem/' || l_orderkey || '-' || "
                     "l_linenumber, l_quantity FROM lineitem JOIN orders ON "
                     "l_orderkey = o_orderkey JOIN customer ON o_custkey = "
                     "c_custkey WHERE c_nationkey = {k}",
                     "five"),
    "price_range": ("analytic",
                    PX + "SELECT ?l ?price WHERE {{ ?l p:l_extendedprice ?price "
                         "FILTER(?price > {k} && ?price < {k} + 2000) }}",
                    "SELECT 'urn:x:lineitem/' || l_orderkey || '-' || "
                    "l_linenumber, l_extendedprice FROM lineitem WHERE "
                    "l_extendedprice > {k} AND l_extendedprice < {k} + 2000",
                    "prices"),
    "priority_groupby": ("analytic",
                         PX + "SELECT ?c (COUNT(?o) AS ?n) (SUM(?tp) AS ?t) "
                              "WHERE {{ ?o p:o_custkey ?c ; p:o_totalprice ?tp ;"
                              " p:o_orderpriority \"{k}\" }} GROUP BY ?c",
                         "SELECT 'urn:x:customer/' || o_custkey, count(*), "
                         "sum(o_totalprice) FROM orders WHERE "
                         "o_orderpriority = '{k}' GROUP BY o_custkey",
                         "priorities"),
    "region_path": ("analytic",
                    PX + "SELECT ?l WHERE {{ ?l p:l_suppkey/p:s_nationkey/"
                         "p:n_regionkey <urn:x:region/{k}> }}",
                    "SELECT 'urn:x:lineitem/' || l_orderkey || '-' || "
                    "l_linenumber FROM lineitem JOIN supplier ON l_suppkey = "
                    "s_suppkey JOIN nation ON s_nationkey = n_nationkey "
                    "WHERE n_regionkey = {k}",
                    "five"),
}
#: result formats drawn per request (3 of 7 are not JSON)
FORMATS = ["json"] * 4 + ["xml", "csv", "tsv"]
CLIENTS = 2


def _customers(ctx) -> int:
    return 150 if ctx.tiny else 250


def _warm_dir(ctx) -> str:
    return os.path.join(ctx.dirs.warm, f"read-c{_customers(ctx)}-v1")


def prepare(ctx) -> None:
    """Build the warm store and dictionary once per checkout."""
    final = _warm_dir(ctx)
    if os.path.exists(os.path.join(final, "_READY")):
        return
    from graphdb_free_mocha_sa_spark import DurableQuadStore, Engine
    from graphdb_free_mocha_sa_spark.encode import encode_star_schema
    from graphdb_free_mocha_sa_spark.sources.registry import load_tables
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.write_tables(gen.star_schema(_customers(ctx)),
                     os.path.join(tmp, "tables"))
    tables = load_tables(ctx.spark, os.path.join(tmp, "tables"), TABLES)
    store = DurableQuadStore(ctx.spark, os.path.join(tmp, "store"))
    store.add_quads(encode_star_schema(tables))
    Engine(ctx.spark, store, warm_dir=os.path.join(tmp, "enc")).query_json(
        PX + "ASK { <urn:x:region/0> p:r_name ?n }")
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _drop_tables(ctx.spark)


def _drop_tables(spark) -> None:
    for t in spark.catalog.listTables():
        spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def _stream(ctx, client: int, n: int, tables) -> list:
    """Client ``client``'s requests: the templates in a fixed round-robin
    order (so every run has the same mix) with seeded parameters and
    formats. Lookup keys are fresh draws from large domains (plan-cache
    misses); each analytic template uses one seeded value per run, so after
    the warm-up every analytic text repeats (plan-cache hits)."""
    rng = np.random.default_rng([ctx.seed, 10, client])
    fixed = np.random.default_rng([ctx.seed, 11])
    names = list(TEMPLATES)
    domains = {
        "customers": lambda: int(rng.integers(1, tables["customer"] + 1)),
        "orders": lambda: int(rng.integers(1, tables["orders"] + 1)),
    }
    per_run = {
        "segments": str(fixed.choice(gen.SEGMENTS)),
        "priorities": str(fixed.choice(gen.PRIORITIES)),
        "prices": int(fixed.choice([10000, 20000, 30000, 40000, 50000])),
        "five": int(fixed.integers(0, 5)),
    }
    out = []
    for i in range(n):
        t = names[(i + client * len(names) // CLIENTS) % len(names)]
        dom = TEMPLATES[t][3]
        k = domains[dom]() if dom in domains else per_run[dom]
        out.append((t, k, FORMATS[int(rng.integers(0, len(FORMATS)))]))
    return out


def setup(ctx):
    from graphdb_free_mocha_sa_spark import DurableQuadStore, Engine
    warm = _warm_dir(ctx)
    _drop_tables(ctx.spark)                   # every open registers afresh
    store = DurableQuadStore(ctx.spark, os.path.join(warm, "store"))
    eng = Engine(ctx.spark, store, warm_dir=os.path.join(warm, "enc"))
    eng.query_json(PX + "ASK { <urn:x:region/0> p:r_name ?n }")
    srv, th = H.start_server(eng)
    import pyarrow.parquet as pq
    sizes = {t: pq.ParquetFile(os.path.join(warm, "tables", f"{t}.parquet"))
             .metadata.num_rows for t in ("customer", "orders")}
    streams = [_stream(ctx, c, 4000, sizes) for c in range(CLIENTS)]
    return {"eng": eng, "srv": srv, "th": th, "streams": streams,
            "done": [], "sizes": sizes}


def warm(ctx, st) -> None:
    """One untimed request per template, split over the clients, so the
    timed phase measures compiled plans rather than first-use codegen."""
    port = st["srv"].server_address[1]

    def client(c: int) -> None:
        cl = H.Client(port)
        try:
            for t, k, _fmt in _stream(ctx, CLIENTS + c, len(TEMPLATES),
                                      st["sizes"])[:len(TEMPLATES) // CLIENTS]:
                cl.query(TEMPLATES[t][1].format(k=k), answers.ACCEPT["json"])
        finally:
            cl.close()

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=170)


def run(ctx, st) -> int:
    port = st["srv"].server_address[1]
    deadline = time.perf_counter() + ctx.seconds
    results: list = []
    lock = threading.Lock()
    errors: list = []

    def client(c: int) -> None:
        cl = H.Client(port)
        try:
            for t, k, fmt in st["streams"][c]:
                if time.perf_counter() >= deadline:
                    break
                text = TEMPLATES[t][1].format(k=k)
                op_id = ctx.tracer.new_op_id()
                with ctx.tracer.op("read", "server", op_id, direct=False):
                    try:
                        code, body, dt = cl.query(
                            text, answers.ACCEPT[fmt], op_id)
                    except OSError as e:
                        code, body, dt = -1, str(e).encode(), 0.0
                        cl.close()
                        cl = H.Client(port)
                with lock:
                    results.append((t, k, fmt, text, code, body, dt))
        except Exception as e:  # noqa: BLE001 — reported as a failure
            errors.append(repr(e))
        finally:
            cl.close()

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=ctx.seconds + 170)
    st["done"] = results
    for e in errors:
        ctx.check(False, f"client error {e}")
    return len(results)


def finish(ctx, st) -> None:
    import duckdb
    warm = _warm_dir(ctx)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(warm, "tables", f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    expected: dict = {}
    seen: set = set()
    repeats = nonjson = 0
    by_class: dict[str, list] = {"lookup": [], "analytic": []}
    by_template: dict[str, list] = {}
    tampered = not ctx.tamper
    for t, k, fmt, text, code, body, dt in st["done"]:
        repeats += text in seen
        seen.add(text)
        nonjson += fmt != "json"
        if (t, k) not in expected:
            rows = con.execute(TEMPLATES[t][2].format(k=k)).fetchall()
            expected[(t, k)] = (bool(rows[0][0]) if t == "status_ask"
                                else answers.canon_rows(rows))
        want = expected[(t, k)]
        if not tampered and isinstance(want, list):
            want = want + [("tampered",)]
            tampered = True
        if code != 200:
            ctx.record("read", dt, False, f"{t}({k}) HTTP {code}")
            continue
        try:
            got = answers.answer(body, fmt)
        except Exception as e:  # noqa: BLE001 — unparsable body
            ctx.record("read", dt, False, f"{t}({k}) {fmt} unparsable: {e}")
            continue
        if got == answers.SENTINEL:
            ctx.record("read", dt, False, f"{t}({k}) sentinel")
        elif got != want:
            n = len(got) if isinstance(got, list) else got
            m = len(want) if isinstance(want, list) else want
            ctx.record("read", dt, False, f"{t}({k}) {fmt} wrong: {n} vs {m}")
        else:
            ctx.record("read", dt)
            by_class[TEMPLATES[t][0]].append(dt)
            by_template.setdefault(t, []).append(dt)
    con.close()
    n = len(st["done"])
    ctx.metric("read_qps", n / ctx.seconds, "1/s")
    ctx.metric("lookup_p50_s", H.median(by_class["lookup"]), "s")
    ctx.metric("analytic_p50_s", H.median(by_class["analytic"]), "s")
    for t, ts in sorted(by_template.items()):
        ctx.metric(f"template.{t}_p50_s", H.median(ts), "s")
    ctx.metric("repeat_share", repeats / n if n else 0.0, "ratio")
    ctx.metric("nonjson_share", nonjson / n if n else 0.0, "ratio")


def close(ctx, st) -> None:
    H.stop_server(st["srv"], st["th"])
