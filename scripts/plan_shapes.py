"""Plan-shape snapshot of the whole catalog.

Builds every ``queries()`` entry at sf0.001, reduces its initial executed
plan (one ``toJSON`` of the AQE initial plan, or of the plan itself when
it is not adaptive) to a small feature record, and compares the records
with the committed ``scripts/plan_shapes.json``:

- every node not counted below, by class (``Project``, ``Sort``, ...);
- ``exchanges``: broadcasts, and shuffles by partitioning kind
  (``single`` = SinglePartition);
- ``joins``: joins by kind and join type (``SortMerge LeftOuter``);
- ``windows``: windows with and without a partition key (``keyed``/``global``);
- ``scans``: file scans counted by "read columns,data filters,partition
  filters", with ",bucketed" when the scan reads bucketed files;
- ``python``: Python-eval nodes;
- ``partial``: whether any aggregate runs a partial (map-side) phase.

Subquery plans count with the plan that holds them. Records hold no
expression ids and no partition numbers, so they do not move with the
core count. Two catalog-wide predicates run on every plan:
no ``CartesianProduct``, and every SinglePartition exchange is fed by an
aggregate whose grouping keys are not entity-cardinality.

A change of plan shape updates the snapshot in the same diff. Usage:

    python scripts/plan_shapes.py            # compare; exit 1 on any difference
    python scripts/plan_shapes.py --update   # rewrite the snapshot
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"
SNAPSHOT = os.path.join(ROOT, "scripts", "plan_shapes.json")

_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_REF = re.compile(r"([A-Za-z_][A-Za-z_0-9]*)#(\d+)")
_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_PARTITIONING = {
    "HashPartitioning": "hash",
    "RangePartitioning": "range",
    "SinglePartition$": "single",
    "RoundRobinPartitioning": "roundrobin",
}


# --- the serialized tree form ----------------------------------------------
#
# ``TreeNode.toJSON`` writes a tree as a pre-order list of node objects,
# each carrying its "class" and "num-children"; child fields hold child
# indexes, other fields hold their own serialized trees (expressions,
# and the physical plans of subqueries under "plan"/"inputPlan").


def _short(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _is_tree(value) -> bool:
    return bool(value) and isinstance(value, list) and isinstance(value[0], dict) \
        and "num-children" in value[0]


def _end(tree: list, i: int) -> int:
    """Index one past the subtree rooted at ``tree[i]``."""
    pending = 1
    while pending:
        pending += tree[i]["num-children"] - 1
        i += 1
    return i


def _subtrees(value, key: str = ""):
    """(is_plan, tree) for every serialized tree nested in ``value``."""
    if _is_tree(value):
        is_plan = key in ("plan", "inputPlan") and _short(value[0]).endswith("Exec")
        yield is_plan, value
        for node in value:
            for k, v in node.items():
                yield from _subtrees(v, k)
    elif isinstance(value, list):
        for v in value:
            yield from _subtrees(v, key)
    elif isinstance(value, dict):
        for k, v in value.items():
            yield from _subtrees(v, k)


def plans(plan: list) -> list[list]:
    """The plan and every subquery plan nested in its expressions."""
    return [plan] + [t for is_plan, t in _subtrees(plan) if is_plan and t is not plan]


def _attrs(expr: list) -> list[tuple[str, str]]:
    """(name, exprId) of every attribute reference in an expression. An
    aggregate's result attribute is named after its expression
    ("min(d#7)"): the references in that name stand for it."""
    out: list[tuple[str, str]] = []
    for n in expr:
        if _short(n) == "AttributeReference":
            out += _REF.findall(n["name"]) or [(n["name"], str(n["exprId"]["id"]))]
    return out


def plan_json(df) -> list:
    """The initial executed plan of ``df`` as its serialized tree. An
    adaptive subquery serializes its plan from before exchange planning,
    so that plan is swapped for the subquery's initial plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    tree = json.loads(plan.toJSON())
    nested = [n for p in plans(tree)[1:] for n in p if _short(n) == "AdaptiveSparkPlanExec"]
    if nested:
        initial = {}
        subqueries = plan.subqueriesAll().iterator()
        while subqueries.hasNext():
            sub = subqueries.next().child()
            if sub.nodeName() == "AdaptiveSparkPlan":
                initial[json.dumps(json.loads(sub.inputPlan().toJSON()))] = json.loads(sub.initialPlan().toJSON())
        for n in nested:
            n["inputPlan"] = initial[json.dumps(n["inputPlan"])]
    return tree


# --- the record ------------------------------------------------------------


def _exchange_kind(node: dict) -> str:
    part = node["outputPartitioning"]
    cls = part[0]["class"] if isinstance(part, list) else part.get("object") or part["product-class"]
    cls = cls.rsplit(".", 1)[-1]
    return _PARTITIONING.get(cls, cls)


def _join_type(node: dict) -> str:
    jt = node.get("joinType")
    if jt is None:
        return "Inner"
    return (jt.get("object") or jt["product-class"]).rsplit(".", 1)[-1].rstrip("$")


def _table(scan: dict) -> str | None:
    ident = scan.get("tableIdentifier")
    return ident and f"{ident['database']}.{ident['table']}"


def _bucketed_tables(spark, plan: list) -> set[str]:
    """Catalog tables read by a file scan whose columns include a bucket
    column; scan nodes do not serialize their relation's bucket spec."""
    names = {_table(n) for p in plans(plan) for n in p if _short(n) == "FileSourceScanExec"}
    return {t for t in names - {None} if any(c.isBucket for c in spark.catalog.listColumns(t))}


def record(plan: list, bucketed: set[str] = frozenset()) -> dict:
    """The plan's shape record; every node is counted once, and empty
    fields are left out."""
    nodes: Counter = Counter()
    exchanges: Counter = Counter()
    joins: Counter = Counter()
    windows: Counter = Counter()
    scans: Counter = Counter()
    python = 0
    partial = False
    for p in plans(plan):
        for n in p:
            cls = _short(n).removesuffix("Exec")
            if cls == "ShuffleExchange":
                exchanges[_exchange_kind(n)] += 1
            elif cls == "BroadcastExchange":
                exchanges["broadcast"] += 1
            elif cls.endswith("Join") or cls == "CartesianProduct":
                joins[f"{cls.removesuffix('Join')} {_join_type(n)}"] += 1
            elif cls == "Window":
                windows["keyed" if n["partitionSpec"] else "global"] += 1
            elif cls == "FileSourceScan":
                schema = n["requiredSchema"]  # [] when no column is read
                scan = [len(schema["fields"]) if schema else 0, len(n["dataFilters"]),
                        len(n["partitionFilters"])]
                if _table(n) in bucketed and not n["disableBucketedScan"]:
                    scan.append("bucketed")
                scans[",".join(map(str, scan))] += 1
            elif _PYTHON_NODE.search(cls):
                python += 1
            else:
                nodes[cls] += 1
            if cls in _AGG_NODES:
                partial = partial or any(
                    _short(e) == "AggregateExpression" and e["mode"]["object"].endswith(".Partial$")
                    for expr in n["aggregateExpressions"]
                    for e in expr
                )
    rec = dict(exchanges=exchanges, joins=joins, windows=windows, scans=scans, python=python, partial=partial)
    rec = {k: dict(sorted(v.items())) if isinstance(v, Counter) else v for k, v in rec.items() if v}
    return dict(sorted(nodes.items())) | rec


# --- SinglePartition cardinality invariant --------------------------------
#
# A window or sort with no partition key funnels its input through a
# SinglePartition exchange. That is only scale-safe when the input is a
# post-aggregation table whose grouping keys are dimension, config or
# calendar cardinality — never raw rows, and never an aggregate keyed by
# an entity column (one row per user/doc/vector grows with the corpus).
# Keys are classified by base column name; names in neither table
# resolve through their defining expression (``expr AS alias``), and a
# key that still resolves to nothing fails unless its (query, key) pair
# carries an attribution stating the bounding argument.

SINGLE_PARTITION_EXEMPT: dict[str, str] = {
    "stream_auc_cells": (
        "the single-partition window reads the streaming memory-sink "
        "table, which the upstream stateful aggregation bounds to <= 11 "
        "score cells by design (plans/q_pipeline106.py) — the bound "
        "lives in the streaming state contract, not this batch plan"
    ),
    "skyline_2d": (
        "the single-partition sort input is the MapInPandas batch-local "
        "skyline prune (skyline-of-skylines superset reduction, "
        "SCALE.md): the global stage sees only per-batch skyline "
        "candidates, not the table — bounded by candidate survivors, "
        "not an aggregate node"
    ),
}

# ENTITY: one distinct value per corpus entity — grows with the data.
_ENTITY_KEY_NAMES = {
    "user_id", "doc_id", "token", "term", "vec_id", "qid", "xid",
    "node", "comp", "src", "dst", "neighbor", "email", "uri",
    "entity", "person", "customer", "supplier", "order_id",
    "o_orderkey", "l_orderkey", "orderkey", "c_custkey", "o_custkey",
    "custkey", "s_suppkey", "l_suppkey", "ps_suppkey", "suppkey",
    "p_partkey", "l_partkey", "ps_partkey", "partkey", "c_name",
    "s_name", "p_name", "shingle", "fingerprint", "session_id",
}
# BOUNDED: fixed enum values, config-sized cells/bands, or calendar units
# (grow with elapsed time, never with corpus size).
_BOUNDED_KEY_NAMES = {
    # enum dimensions of the data model
    "nation", "n_name", "n_nationkey", "c_nationkey", "s_nationkey",
    "region", "r_name", "r_regionkey", "n_regionkey", "event_type",
    "lang", "language", "label", "segment", "status", "flag",
    "l_returnflag", "l_linestatus", "l_shipmode", "c_mktsegment",
    "o_orderpriority", "o_orderstatus", "p_brand", "p_type", "p_size",
    "p_container", "p_mfgr", "l_shipinstruct",
    # calendar units (grow with elapsed time, not corpus size)
    "month", "year", "day", "week", "hour", "date", "ym", "ym_month",
    "o_year", "l_year", "mon", "dt",
    # config-sized constructs (k cells / bands / tiles fixed by args)
    "cell", "cid", "decile", "tertile", "quintile", "tile", "band",
    "plane", "sub", "code", "grp_mod",
    # distrank's range-block id: spark_partition_id() after a range
    # exchange — bounded by spark.sql.shuffle.partitions (config)
    "_gpid",
}

SINGLE_PARTITION_KEY_ATTRIBUTION: dict[tuple[str, str], str] = {
    ("auc_exact_rank", "s"): (
        "distinct score levels: s = round(max(l_discount)*100) over the "
        "0.00-0.10 discount value grid -> <= 11 distinct scores "
        "(q_pipeline105); bounded by the score DOMAIN, not the corpus"
    ),
    ("cumulative_gains_by_score", "s"): (
        "same <= 11-level score grid as auc_exact_rank (shared "
        "q_pipeline105 scoring)"
    ),
    ("psi_drift", "bucket"): (
        "PSI cells: bucket = least(floor(value/W), N-1) clipped to "
        "N=10 fixed-width cells (q_pipeline60), plus the 10-row "
        "generate_series ring — config-sized by construction"
    ),
    ("ann_autotune_plan", "np"): (
        "config-grid axis: np/pool come from the 4-row inline "
        "_AUTOTUNE_CONFIGS local relation (q_pipeline10) — the choice "
        "window ranks the per-config REPORT (one row per grid cell), "
        "bounded by the tuner's candidate grid, never by corpus rows"
    ),
    ("ann_autotune_plan", "pool"): (
        "same 4-row _AUTOTUNE_CONFIGS grid as 'np' (the other axis of "
        "the (nprobe, rerank-pool) candidate table)"
    ),
}

# expressions whose output is calendar-unit bounded whatever the input
_CALENDAR_NODES = {
    "Year", "Month", "Quarter", "DayOfWeek", "DayOfMonth", "WeekOfYear",
    "Hour", "Minute", "TruncTimestamp",
}


def _is_calendar(node: dict) -> bool:
    return _short(node) in _CALENDAR_NODES or (
        _short(node) == "Cast" and node.get("dataType") == "date"
    )


def _aliases(plan: list) -> dict[tuple[str, str], list]:
    """(name, exprId) -> defining expression of every ``expr AS name``,
    first occurrence in plan order."""
    out: dict[tuple[str, str], list] = {}
    for _, tree in _subtrees(plan):
        for i, n in enumerate(tree):
            if _short(n) == "Alias":
                out.setdefault((n["name"], str(n["exprId"]["id"])), tree[i + 1:_end(tree, i + 1)])
    return out


def _strip_outer_casts(expr: list) -> list:
    while _short(expr[0]) == "Cast":
        expr = expr[1:_end(expr, 1)]
    return expr


def _strip_calendar_calls(expr: list) -> list:
    """``expr`` without its calendar-extraction subtrees: what the
    expression computes outside calendar units."""
    out, i = [], 0
    while i < len(expr):
        if _is_calendar(expr[i]):
            i = _end(expr, i)
        else:
            out.append(expr[i])
            i += 1
    return out


def _classify_attr(aliases, name: str, attr_id: str, depth: int = 4) -> tuple[str, str]:
    """Cardinality class of attribute name#attr_id: 'entity', 'bounded'
    or 'unknown'. Names in neither table resolve through their defining
    expression."""
    low = name.lower()
    if low in _ENTITY_KEY_NAMES:
        return "entity", f"entity key '{name}'"
    if low in _BOUNDED_KEY_NAMES:
        return "bounded", f"bounded key '{name}'"
    if depth <= 0:
        return "unknown", f"'{name}' (alias-resolution depth exhausted)"
    expr = aliases.get((name, attr_id))
    if expr is None:
        return "unknown", f"'{name}' (no defining expression in plan)"
    return _classify_expr(aliases, expr, name, depth)


def _classify_expr(aliases, expr: list, alias: str, depth: int) -> tuple[str, str]:
    """Cardinality class of a defining expression. Order matters:

    1. a WHOLE-expression modulo by a literal is bounded even over an
       entity key (a modulo inside a larger expression proves nothing);
    2. any ENTITY source otherwise taints the expression;
    3. calendar-unit extraction is bounded, but only when the WHOLE
       expression reduces to calendar calls (stripping them must leave
       no attribute references);
    4. all-bounded sources make the derivation bounded;
    5. anything else stays unknown (per-query attribution required).
    """
    core = _strip_outer_casts(expr)
    if (
        _short(core[0]) in ("Remainder", "Pmod")
        and [_short(n) for n in core[1:]] == ["AttributeReference", "Literal"]
        and str(core[2]["value"]).isdigit()
    ):
        return "bounded", f"'{alias}' = modulo-literal expression"
    srcs = _attrs(expr)
    ent = sorted({n for n, _ in srcs if n.lower() in _ENTITY_KEY_NAMES})
    if ent:
        return "entity", f"'{alias}' derived from entity keys {ent}"
    if any(_is_calendar(n) for n in expr) and not _attrs(_strip_calendar_calls(expr)):
        return "bounded", f"'{alias}' = calendar-unit expression"
    if not srcs:
        return "unknown", f"'{alias}' (no source attributes resolved)"
    sub_unknown: list[str] = []
    for n, i in srcs:
        cls, why = _classify_attr(aliases, n, i, depth - 1)
        if cls == "entity":
            return "entity", f"'{alias}' <- {why}"
        if cls == "unknown":
            sub_unknown.append(why)
    if sub_unknown:
        return "unknown", f"'{alias}' <- " + "; ".join(sorted(set(sub_unknown)))
    return "bounded", f"'{alias}' derived from bounded sources {sorted({n for n, _ in srcs})}"


def _agg_key_class(aliases, agg: dict) -> tuple[str, str, list[str]]:
    """(class, detail, unknown key names) for an aggregate's grouping keys."""
    keys = [a for expr in agg["groupingExpressions"] for a in _attrs(expr)]
    if not keys:
        return "bounded", "global aggregate (one row)", []
    details: list[str] = []
    unknown: list[str] = []
    for name, attr_id in keys:
        if name == "_groupingexpression":
            # prefer the user-facing alias Catalyst re-exports the
            # hoisted grouping expression under
            name, attr_id = next(
                (a for a, expr in aliases.items() if len(expr) == 1 and _attrs(expr) == [(name, attr_id)]),
                (name, attr_id),
            )
        cls, why = _classify_attr(aliases, name, attr_id)
        if cls == "entity":
            return "entity", f"entity-cardinality: {why}", []
        details.append(why)
        if cls == "unknown":
            unknown.append(name.lower())
    if unknown:
        return "unknown", "unclassified keys " + str(sorted(set(unknown))), sorted(set(unknown))
    return "bounded", "; ".join(details), []


def single_partition_bounded(plan: list, query_name: str | None = None) -> tuple[bool, str]:
    """True iff every SinglePartition exchange (in the plan and its
    subqueries) roots a subtree whose first aggregate node has grouping
    keys that are not entity-cardinality; keys that stay unknown fail
    unless ``SINGLE_PARTITION_KEY_ATTRIBUTION`` names the (query, key)."""
    aliases = _aliases(plan)
    classes: list[str] = []
    sp = 0
    for p in plans(plan):
        for i, n in enumerate(p):
            if _short(n) != "ShuffleExchangeExec" or _exchange_kind(n) != "single":
                continue
            sp += 1
            agg = next(
                (m for m in p[i + 1:_end(p, i)] if _short(m).removesuffix("Exec") in _AGG_NODES),
                None,
            )
            if agg is None:
                return False, f"Exchange SinglePartition #{sp} subtree has no aggregate"
            kclass, detail, names = _agg_key_class(aliases, agg)
            if kclass == "entity":
                return False, (
                    f"Exchange SinglePartition #{sp} rides on {detail} — "
                    "grows with the corpus; needs the distrank two-pass rewrite"
                )
            if kclass == "unknown":
                missing = [k for k in names if (query_name, k) not in SINGLE_PARTITION_KEY_ATTRIBUTION]
                if missing:
                    return False, (
                        f"Exchange SinglePartition #{sp} rides on {detail} — "
                        f"key(s) {missing} neither resolve to a bounded "
                        "class nor carry a SINGLE_PARTITION_KEY_ATTRIBUTION "
                        "entry; classify or attribute the bounding argument"
                    )
                detail += " | attributed: " + "; ".join(
                    f"'{k}': " + SINGLE_PARTITION_KEY_ATTRIBUTION[(query_name, k)] for k in names
                )
            classes.append(f"#{sp} {detail}")
    if not sp:
        return True, "no SinglePartition exchange in plan"
    return True, (
        f"{sp} SinglePartition exchange(s), each fed by a keyed "
        f"aggregation of non-entity cardinality: {'; '.join(classes)}"
    )


# --- check -----------------------------------------------------------------


def violations(name: str, plan: list, rec: dict) -> list[str]:
    """The catalog-wide predicates, as failure lines."""
    out = [f"{name}: {j}" for j in rec.get("joins", {}) if j.startswith("CartesianProduct")]
    if "single" in rec.get("exchanges", {}) and name not in SINGLE_PARTITION_EXEMPT:
        ok, why = single_partition_bounded(plan, name)
        if not ok:
            out.append(f"{name}: {why}")
    return out


def compare(snapshot: dict, records: dict) -> list[str]:
    """One line per query whose record differs from the snapshot."""
    out = []
    for name in sorted(snapshot.keys() | records.keys()):
        old, new = snapshot.get(name), records.get(name)
        if old is None or new is None:
            out.append(f"{name}: {'new query' if old is None else 'query gone'}")
            continue
        for field in sorted(old.keys() | new.keys()):
            if old.get(field) != new.get(field):
                out.append(f"{name}: {field} {json.dumps(old.get(field))} -> {json.dumps(new.get(field))}")
    return out


def dumps(records: dict) -> str:
    """The snapshot text: one line per query, sorted by name."""
    lines = [f"{json.dumps(n)}: {json.dumps(records[n], separators=(',', ':'))}" for n in sorted(records)]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def main(argv: list[str]) -> int:
    if argv not in ([], ["--update"]):
        print(__doc__)
        return 2
    import __spark_entry__ as entry_mod
    from prosnet_prefect_pipelines_spark.session import get_spark

    spark = get_spark("plan_shapes")
    records: dict[str, dict] = {}
    problems: list[str] = []
    for name, build in entry_mod.queries().items():
        try:
            plan = plan_json(build(spark, SF_DIR))
            records[name] = record(plan, _bucketed_tables(spark, plan))
        except Exception as e:
            e.add_note(f"query {name}")
            raise
        problems += violations(name, plan, records[name])
    if argv:
        with open(SNAPSHOT, "w") as fh:
            fh.write(dumps(records))
    else:
        with open(SNAPSHOT) as fh:
            problems += compare(json.load(fh), records)
    for line in problems:
        print(line)
    verb = "written to" if argv else "compared with"
    print(f"{len(records)} plan records {verb} scripts/plan_shapes.json; {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
