"""Profile a dataset of the catalog's input tables, and compare two profiles.

A profile holds, per table, the row count and every column's parquet type
(physical and logical), and the value distributions the
benchmarked rows depend on: events per user, document length, near-duplicate
documents, embedding shape, key cardinalities and value ranges. It is how
the generated inputs are held to the reference test data:

    python3 perfbench/datastats.py <dir>                 # profile as JSON
    python3 perfbench/datastats.py <reference> <other>   # comparison table

The comparison exits with status 1 when a schema, a row count or a
distribution is outside its tolerance (``TOLERANCE``; exact by default).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: Relative tolerance of a sampled distribution statistic; every statistic
#: not listed, and every schema entry and row count, must match exactly.
TOLERANCE = {
    "events.per_user_p10": 0.1, "events.per_user_p50": 0.1,
    "events.per_user_p90": 0.1, "events.per_user_std": 0.15,
    "events.type_share_max": 0.05, "events.value_mean": 0.05,
    "events.value_p50": 0.1, "events.ts_span_days": 0.01,
    "documents.words_p10": 0.1, "documents.words_p50": 0.1,
    "documents.words_p90": 0.1, "documents.chars_mean": 0.05,
    "documents.near_dup_docs": 0.2, "documents.lang_share_en": 0.15,
    "embeddings.norm_mean": 0.001, "embeddings.label_share_max": 0.3,
    "orders.distinct_custkeys": 0.02, "orders.totalprice_mean": 0.05,
    "lineitem.distinct_orderkeys": 0.02, "lineitem.lines_per_order_p50": 0.25,
    "lineitem.extendedprice_mean": 0.05, "customer.acctbal_mean": 0.1,
    "part.distinct_names": 0.05,
}


def _schema(path: str) -> list[list[str]]:
    schema = pq.ParquetFile(path).schema
    return [[c.name, c.physical_type, str(c.logical_type)]
            for c in (schema.column(i) for i in range(len(schema)))]


def _q(values, q: float) -> float:
    return float(np.quantile(np.asarray(values), q))


def _stats(t: dict) -> dict[str, float | int | str]:
    ev, docs, emb = t["events"], t["documents"], t["embeddings"]
    per_user = ev.group_by("user_id").aggregate([("event_id", "count")])["event_id_count"]
    types = ev.group_by("event_type").aggregate([("event_id", "count")])["event_id_count"]
    ts = ev["ts"].cast("int64").to_numpy()
    texts = docs["text"].to_pylist()
    words = [len(s.split()) for s in texts]
    known = set(texts)
    near_dup = sum(s.rsplit(" ", 1)[0] in known for s in texts if " " in s)
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    labels = emb.group_by("label").aggregate([("vec_id", "count")])["vec_id_count"]
    lines = t["lineitem"]
    per_order = lines.group_by("l_orderkey").aggregate([("l_linenumber", "count")])
    return {
        "events.users": len(per_user),
        "events.per_user_p10": _q(per_user, 0.1),
        "events.per_user_p50": _q(per_user, 0.5),
        "events.per_user_p90": _q(per_user, 0.9),
        "events.per_user_std": float(np.std(per_user.to_numpy())),
        "events.event_types": " ".join(sorted(pc.unique(ev["event_type"]).to_pylist())),
        "events.type_share_max": pc.max(types).as_py() / len(ev),
        "events.value_mean": pc.mean(ev["value"]).as_py(),
        "events.value_p50": _q(ev["value"], 0.5),
        "events.ts_span_days": float(ts.max() - ts.min()) / 86_400e6,
        "events.props_distinct": len(pc.unique(ev["props"])),
        "documents.vocabulary": " ".join(sorted({w for s in texts for w in s.split()})),
        "documents.words_min": min(words),
        "documents.words_p10": _q(words, 0.1),
        "documents.words_p50": _q(words, 0.5),
        "documents.words_p90": _q(words, 0.9),
        "documents.chars_mean": pc.mean(docs["n_chars"]).as_py(),
        "documents.marked_dup_docs": sum(s.endswith(" dup") for s in texts),
        "documents.near_dup_docs": near_dup,
        "documents.exact_dup_texts": len(texts) - len(known),
        "documents.lang_share_en": docs["lang"].to_pylist().count("en") / len(texts),
        "documents.languages": " ".join(sorted(pc.unique(docs["lang"]).to_pylist())),
        "documents.sources": len(pc.unique(docs["source"])),
        "embeddings.dim": int(vecs.shape[1]),
        "embeddings.norm_mean": float(np.linalg.norm(vecs, axis=1).mean()),
        "embeddings.labels": len(labels),
        "embeddings.label_share_max": pc.max(labels).as_py() / len(emb),
        "orders.distinct_custkeys": len(pc.unique(t["orders"]["o_custkey"])),
        "orders.orderdate_min": str(pc.min(t["orders"]["o_orderdate"]).as_py().date()),
        "orders.orderdate_max": str(pc.max(t["orders"]["o_orderdate"]).as_py().date()),
        "orders.totalprice_mean": pc.mean(t["orders"]["o_totalprice"]).as_py(),
        "lineitem.distinct_orderkeys": len(per_order),
        "lineitem.lines_per_order_p50": _q(per_order["l_linenumber_count"], 0.5),
        "lineitem.discount_values": len(pc.unique(lines["l_discount"])),
        "lineitem.extendedprice_mean": pc.mean(lines["l_extendedprice"]).as_py(),
        "lineitem.shipdate_min": str(pc.min(lines["l_shipdate"]).as_py().date()),
        "lineitem.shipdate_max": str(pc.max(lines["l_shipdate"]).as_py().date()),
        "customer.segments": len(pc.unique(t["customer"]["c_mktsegment"])),
        "customer.acctbal_mean": pc.mean(t["customer"]["c_acctbal"]).as_py(),
        "part.distinct_names": len(pc.unique(t["part"]["p_name"])),
        "part.brands": len(pc.unique(t["part"]["p_brand"])),
        "part.types": len(pc.unique(t["part"]["p_type"])),
    }


def profile(sf_dir: str) -> dict:
    paths = {name: os.path.join(sf_dir, f"{name}.parquet") for name in TABLES}
    tables = {name: pq.read_table(p) for name, p in paths.items()}
    return {"schema": {name: _schema(p) for name, p in paths.items()},
            "rows": {name: t.num_rows for name, t in tables.items()},
            "stats": _stats(tables)}


def compare(ref: dict, other: dict) -> list[tuple[str, object, object, bool]]:
    """(item, reference value, other value, within tolerance) for every
    schema entry, row count and statistic of the reference profile."""
    out = []
    for table, cols in ref["schema"].items():
        got = {c[0]: c for c in other["schema"].get(table, [])}
        for col in cols:
            theirs = got.get(col[0])
            out.append((f"{table}.{col[0]} type", " ".join(col[1:]),
                        " ".join(theirs[1:]) if theirs else None, theirs == col))
        extra = sorted(set(got) - {c[0] for c in cols})
        if extra:
            out.append((f"{table} extra columns", [], extra, False))
    for table, n in ref["rows"].items():
        out.append((f"{table} rows", n, other["rows"].get(table), other["rows"].get(table) == n))
    for name, value in ref["stats"].items():
        theirs = other["stats"].get(name)
        tol = TOLERANCE.get(name)
        if tol is None or theirs is None:
            ok = theirs == value
        else:
            ok = abs(theirs - value) <= tol * max(abs(value), abs(theirs))
        out.append((name, value, theirs, ok))
    return out


def _fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv: list[str]) -> int:
    if len(argv) == 1:
        print(json.dumps(profile(argv[0]), indent=1))
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    rows = compare(profile(argv[0]), profile(argv[1]))
    print("| item | reference | other | tolerance | ok |\n|---|---|---|---|---|")
    for item, a, b, ok in rows:
        tol = TOLERANCE.get(item)
        print(f"| `{item}` | {_fmt(a)} | {_fmt(b)} | "
              f"{f'{tol:g}' if tol is not None else 'exact'} | {'yes' if ok else 'NO'} |")
    return 0 if all(ok for *_, ok in rows) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
