"""Seeded input generators for the benchmark.

Everything the engine receives is made here from the workload seed: the
same seed gives byte-identical inputs. The engine never sees the seed.

- ``manifest``: an N-model dbt manifest with the shape of
  ``tests/fixtures/make_big_manifest.py`` (sources → staging →
  intermediate → marts, tests on every third mart). The seed picks the
  words in names, descriptions, columns and tags; the DAG shape is fixed.
- ``session_args``: the arguments of one template session. The seed picks
  query terms and model names only, so the call mix never changes.
- ``churn``: the next manifest of a refresh sequence plus the ground-truth
  set of models whose search document changed, was added or was removed.
- ``batch_tables``: the four parquet tables the batch steps read, with the
  schemas and value ranges of the TPC-H-like test tables (TESTDATA.md).
"""

from __future__ import annotations

import copy
import datetime
import random

WORDS = (
    "revenue orders customers payments sessions events products churn margin"
    " retention invoices shipments returns inventory suppliers campaigns clicks"
).split()
#: the capsule task's first word. It sets the capsule's intent, and with it
#: the lineage depths the capsule walks, so it is fixed: the reference's
#: capsule benchmark task is a debug task
TASK_VERB = "debug"
#: models each churn step adds (staging) and removes (childless marts)
CHURN_ADDED = 3
CHURN_REMOVED = 3


def manifest(seed: int, n_models: int = 500, project: str = "bigshop") -> dict:
    rng = random.Random(seed)
    # one seeded word per model slot: names, descriptions and columns vary
    # with the seed while every slot keeps its place in the DAG
    w = [rng.choice(WORDS) for _ in range(n_models + 3)]
    n_staging = max(n_models // 2, 1)
    n_inter = max(n_models // 4, 1)
    n_marts = n_models - n_staging - n_inter
    nodes, sources, parent_map = {}, {}, {}

    for i in range(n_staging):
        suid = f"source.{project}.raw.tbl_{i}"
        sources[suid] = {
            "unique_id": suid, "resource_type": "source", "name": f"tbl_{i}",
            "source_name": "raw", "schema": "raw", "database": "dev",
            "identifier": f"tbl_{i}", "loader": "parquet",
            "description": f"raw {w[i]} table", "columns": {}, "meta": {},
            "tags": [], "fqn": [project, "raw", f"tbl_{i}"],
        }

    def model(name, layer_dir, deps, i, mat="view"):
        uid = f"model.{project}.{name}"
        a, b, c = w[i % n_models], w[i % n_models + 1], w[i % n_models + 2]
        cols = {
            col: {"name": col, "data_type": t, "description": f"{col} column"}
            for col, t in (
                (f"{a}_id", "bigint"),
                (f"{b}_amount", "double"),
                ("updated_at", "timestamp"),
                ("status", "varchar"),
            )
        }
        nodes[uid] = {
            "unique_id": uid, "resource_type": "model", "name": name,
            "package_name": project, "database": "dev", "schema": "analytics",
            "alias": name, "path": f"{layer_dir}/{name}.sql",
            "original_file_path": f"models/{layer_dir}/{name}.sql",
            "fqn": [project, layer_dir, name],
            "raw_code": f"select {a}_id, sum({b}_amount) as total_{b}"
                        f" from somewhere group by 1 -- {name}",
            "language": "sql",
            "description": f"{layer_dir} model for {a} {c} analysis",
            "tags": [layer_dir, a],
            "meta": {}, "config": {"materialized": mat, "tags": [layer_dir]},
            "depends_on": {"nodes": deps, "macros": []},
            "refs": [{"name": d.split(".")[-1]} for d in deps if d.startswith("model.")],
            "sources": [["raw", d.split(".")[-1]] for d in deps if d.startswith("source.")],
            "columns": cols,
        }
        parent_map[uid] = deps
        return uid

    stg = [
        model(f"stg_{w[i]}_{i}", "staging", [f"source.{project}.raw.tbl_{i}"], i)
        for i in range(n_staging)
    ]
    inter = [
        model(
            f"int_{w[n_staging + i]}_{i}", "intermediate",
            [stg[(2 * i) % n_staging], stg[(2 * i + 1) % n_staging]], n_staging + i,
        )
        for i in range(n_inter)
    ]
    marts = []
    for i in range(n_marts):
        j = n_staging + n_inter + i
        prefix = "fct" if i % 2 else "dim"
        marts.append(model(
            f"{prefix}_{w[j]}_{i}", "marts",
            [inter[i % n_inter], inter[(i + 3) % n_inter], stg[i % n_staging]], j,
            mat="table",
        ))

    for j, uid in enumerate(marts):
        if j % 3:
            continue
        _add_tests(nodes, parent_map, project, uid)
    return _finish(project, nodes, sources, parent_map)


def _add_tests(nodes: dict, parent_map: dict, project: str, uid: str) -> None:
    mname = uid.split(".")[-1]
    col = next(iter(nodes[uid]["columns"]))
    for ttype in ("unique", "not_null"):
        tuid = f"test.{project}.{ttype}_{mname}_id"
        nodes[tuid] = {
            "unique_id": tuid, "resource_type": "test", "name": f"{ttype}_{mname}_id",
            "package_name": project, "path": f"{ttype}_{mname}.sql",
            "original_file_path": "models/schema.yml", "fqn": [project],
            "raw_code": "", "language": "sql", "description": "", "tags": [],
            "meta": {}, "config": {"severity": "ERROR"},
            "depends_on": {"nodes": [uid], "macros": []}, "refs": [], "sources": [],
            "columns": {}, "column_name": col, "attached_node": uid,
            "test_metadata": {"name": ttype, "kwargs": {"column_name": col}},
        }
        parent_map[tuid] = [uid]


def _finish(project: str, nodes: dict, sources: dict, parent_map: dict) -> dict:
    child_map: dict[str, list[str]] = {}
    for child, parents in parent_map.items():
        for p in parents:
            child_map.setdefault(p, []).append(child)
    return {
        "metadata": {
            "project_name": project, "adapter_type": "spark",
            "dbt_version": "1.8.0", "generated_at": "2026-01-01T00:00:00Z",
        },
        "nodes": nodes, "sources": sources, "macros": {}, "exposures": {},
        "parent_map": parent_map, "child_map": child_map,
    }


def models_by_layer(man: dict) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for n in man["nodes"].values():
        if n["resource_type"] == "model":
            out.setdefault(n["fqn"][1], []).append(n["name"])
    return {k: sorted(v) for k, v in out.items()}


def session_args(seed: int, man: dict) -> dict:
    """Arguments of one template session. Query terms and model names come
    from the seed; each call targets a model of a fixed layer, so the work
    per call stays comparable from seed to seed."""
    rng = random.Random(seed)
    layers = models_by_layer(man)
    mart = rng.choice(layers["marts"])
    return {
        "query": " ".join(rng.sample(WORDS, 2)),
        "lineage_model": mart,
        "column": rng.choice(WORDS)[:5],
        "task": f"{TASK_VERB} {rng.choice(WORDS)} {rng.choice(WORDS)}",
        "focus_model": mart,
    }


def churn(seed: int, man: dict, step: int, *, share: float = 0.05) -> tuple[dict, dict]:
    """The manifest after one refresh's worth of change, and its truth.

    ``share`` of the models get a new description or an extra column
    (both feed the search document), ``CHURN_ADDED`` staging models are
    added and ``CHURN_REMOVED`` childless marts are removed. Returns the new manifest
    and ``{"changed": [...], "added": [...], "removed": [...]}``."""
    rng = random.Random(seed * 1009 + step)
    new = copy.deepcopy(man)
    nodes, parent_map = new["nodes"], new["parent_map"]
    project = new["metadata"]["project_name"]
    models = sorted(u for u, n in nodes.items() if n["resource_type"] == "model")
    has_child = {p for c, ps in parent_map.items() for p in ps if c in nodes
                 and nodes[c]["resource_type"] == "model"}
    leaves = [u for u in models if nodes[u]["fqn"][1] == "marts" and u not in has_child]
    removed = sorted(rng.sample(leaves, min(CHURN_REMOVED, len(leaves))))
    for u in removed:
        for t in [t for t, ps in parent_map.items() if ps == [u]]:
            del nodes[t], parent_map[t]
        del nodes[u], parent_map[u]
    kept = [u for u in models if u not in removed]
    changed = sorted(rng.sample(kept, max(1, int(len(kept) * share))))
    for n_, u in enumerate(changed):
        node = nodes[u]
        if n_ % 2:
            node["description"] += f" revised {rng.choice(WORDS)} s{step}"
        else:
            col = f"{rng.choice(WORDS)}_s{step}_flag"
            node["columns"][col] = {"name": col, "data_type": "boolean",
                                    "description": f"{col} column"}
    staging = [u for u in kept if nodes[u]["fqn"][1] == "staging"]
    added = []
    for i in range(CHURN_ADDED):
        parent = rng.choice(staging)
        name = f"stg_{rng.choice(WORDS)}_s{step}_{i}"
        uid = f"model.{project}.{name}"
        node = copy.deepcopy(nodes[parent])
        node.update(unique_id=uid, name=name, alias=name, path=f"staging/{name}.sql",
                    original_file_path=f"models/staging/{name}.sql",
                    fqn=[project, "staging", name],
                    depends_on={"nodes": [parent], "macros": []},
                    refs=[{"name": parent.split(".")[-1]}], sources=[])
        node["description"] = f"staging model for {rng.choice(WORDS)} added s{step}"
        nodes[uid] = node
        parent_map[uid] = [parent]
        added.append(uid)
    out = _finish(project, nodes, new["sources"], parent_map)
    return out, {"changed": changed, "added": sorted(added), "removed": removed}


# -- batch tables -------------------------------------------------------------
DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order"
    " part key spark line value group agg window big table stream data query"
    " sort fast vector the a"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def batch_tables(seed: int, out_dir: str, n_orders: int) -> None:
    """Write orders, customer, lineitem and documents parquet tables."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(n_orders // 10, 10)
    n_docs = max(n_orders // 30, 50)
    day0 = datetime.datetime(1995, 1, 1)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
    })
    write("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_orders)],
        "o_orderdate": pa.array(
            [day0 + datetime.timedelta(days=rng.randrange(2400)) for _ in range(n_orders)],
            pa.timestamp("us"),
        ),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)],
    })
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(2000))
            li["l_suppkey"].append(rng.randrange(100))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(day0 + datetime.timedelta(days=rng.randrange(2500)))
    li["l_orderkey"] = pa.array(li["l_orderkey"], pa.int64())
    li["l_partkey"] = pa.array(li["l_partkey"], pa.int64())
    li["l_suppkey"] = pa.array(li["l_suppkey"], pa.int64())
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    write("lineitem", li)
    texts = []
    for i in range(n_docs):
        if i % 25 == 7 and texts:  # exact duplicates for the dedup stage
            texts.append(texts[rng.randrange(len(texts))])
            continue
        n = rng.randint(12, 100)
        texts.append(" ".join(rng.choice(DOC_WORDS) for _ in range(n)))
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
