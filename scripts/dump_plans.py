"""Dump the normalised ``.explain('formatted')`` plan of named queries to
plans/$BDFP_PLAN_ROUND/<tag>/<q>.txt (round defaults to r15).

Usage: python scripts/dump_plans.py before q1 q2 ...
Streaming/lifecycle queries whose final frame is a plain read-back still
get their serve-plan captured (the returned DataFrame's plan).

What in a plan depends on the session rather than on the query is
normalised (see :func:`normalise`), so the same plans dumped from two
checkouts, or from two sessions, are byte-identical and a plan check is
``diff -r plans/<round>/before plans/<round>/after``. The script dumps
the package of its own checkout; to dump an older checkout, copy this
file into that checkout's ``scripts/``.
"""
import os
import re
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_EXPAND_ARGS = re.compile(r"^\(\d+\) Expand\nInput \[\d+\]: .*\nArguments: (.*)$", re.M)


def _split(s: str) -> list[str]:
    """Split a formatted list body on its top-level ", "."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(s):
        depth += (c in "([{") - (c in ")]}")
        if depth == 0 and s.startswith(", ", i):
            out.append(s[start:i])
            start = i + 2
    return out + [s[start:]]


def _canonical_expand(args: str, tail: str) -> tuple[str, str]:
    """One order for the groups of a distinct-aggregate ``Expand``.

    Spark's distinct-aggregate rewrite orders the groups, and with them
    the ``gid`` literals and the group columns of every node above, by
    expression-id hashes, which depend on what the session built
    before. Here the groups are sorted by their non-null group columns
    with ids masked, the ``gid`` values are dealt out again in that
    order, and the group columns are reordered to match, in ``args``
    (the ``Expand``'s arguments) and in ``tail`` (the plan after it)."""
    projections, out = _split(args)
    rows = [_split(p[1:-1]) for p in _split(projections[1:-1])]
    cols = _split(out[1:-1])
    if not cols[-1].startswith("gid#") or not all(r[-1].isdigit() for r in rows):
        return args, tail
    slots = [j for j in range(len(cols) - 1) if any(r[j] == "null" for r in rows)]
    key = [[re.sub(r"#\d+", "#", r[j]) for j in slots if r[j] != "null"] for r in rows]
    order = sorted(range(len(rows)), key=key.__getitem__)
    gid = dict(zip((rows[i][-1] for i in order), sorted((r[-1] for r in rows), key=int)))
    rank = {i: n for n, i in enumerate(order)}

    def owner(j: int) -> int:
        return min((rank[i] for i, r in enumerate(rows) if r[j] != "null"), default=0)

    perm = list(range(len(cols)))
    for pos, j in zip(slots, sorted(slots, key=lambda j: (owner(j), j))):
        perm[pos] = j
    new_rows = [[rows[i][j] for j in perm[:-1]] + [gid[rows[i][-1]]] for i in order]
    new_cols = [cols[j] for j in perm]
    args = "[{}], [{}]".format(
        ", ".join("[" + ", ".join(r) + "]" for r in new_rows), ", ".join(new_cols)
    )
    tail = re.sub(
        rf"\b{re.escape(cols[-1])} = (\d+)\b",
        lambda m: f"{cols[-1]} = {gid.get(m[1], m[1])}",
        tail,
    )
    old_run = ", ".join(cols[j] for j in slots)
    return args, tail.replace(old_run, ", ".join(new_cols[j] for j in slots))


def _renumber(text: str, pattern: str, fmt: str) -> str:
    """Replace each number captured by ``pattern`` with its rank of
    first appearance: only which references are the same survives."""
    ids: dict[str, int] = {}
    return re.sub(
        pattern, lambda m: fmt.format(ids.setdefault(m[1], len(ids) + 1)), text
    )


def normalise(plan: str) -> str:
    """``plan`` without what depends on the session: the group order of
    distinct-aggregate ``Expand`` nodes, ``#<id>``s and ``plan_id``s
    (renumbered in order of appearance), RDD numbers (a
    ``localCheckpoint`` scan's among them) and, in paths under the
    temporary directory, the directory itself and the pid / thread
    numbers in names."""
    pos = 0
    while m := _EXPAND_ARGS.search(plan, pos):
        args, tail = _canonical_expand(m[1], plan[m.end():])
        plan = plan[: m.start(1)] + args + tail
        pos = m.start(1) + len(args)
    tmp = tempfile.gettempdir()
    plan = re.sub(
        re.escape(tmp) + r"/[^\s,\]]*",
        lambda m: "<tmp>" + re.sub(r"(?<=[_.-])\d{4,}", "<n>", m[0][len(tmp):]),
        plan,
    )
    plan = re.sub(r"RDD\[\d+\]", "RDD[<n>]", plan)
    plan = _renumber(plan, r"#(\d+)", "#{}")
    return _renumber(plan, r"plan_id=(\d+)", "plan_id={}")


def main() -> None:
    from bigdatafinalproject_spark import registry
    from bigdatafinalproject_spark.session import get_spark

    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = (
        Path(__file__).resolve().parent.parent
        / "plans"
        / os.environ.get("BDFP_PLAN_ROUND", "r15")
        / tag
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="bdfp-plans")
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}.txt").write_text(normalise(txt))
        print(name, "->", out_dir / f"{name}.txt")


if __name__ == "__main__":
    main()
