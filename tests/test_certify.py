"""The certification legs in ``plans/certify.py``, each on tiny frames
with a planted violation, and a guard that keeps the legs written only
there."""

from __future__ import annotations

import ast
from pathlib import Path

from usgs_earthquake_data_pipeline_spark.plans import certify as C

PAIRS = "id_a long, id_b long"


def _ok(leg):
    row = leg.collect()
    assert len(row) == 1 and len(row[0]) == 1, row
    return row[0][0]


def test_rows_equal_ok(spark):
    base = [(1, 2), (1, 3), (2, 3)]
    a = spark.createDataFrame(base, PAIRS)

    def ok(rows):
        return _ok(C.rows_equal_ok(a, spark.createDataFrame(rows, PAIRS), "ok"))

    assert ok(list(reversed(base))) is True
    assert ok(base[:2]) is False  # a missing row
    assert ok(base + [(3, 4)]) is False  # an extra row
    assert ok(base + [(1, 2)]) is False  # a duplicated row: multisets differ


def test_subset_ok(spark):
    sup = spark.createDataFrame(
        [(1, 2, 0.5), (1, 3, 0.9)], "id_a long, id_b long, j double"
    )

    def ok(rows):
        sub = spark.createDataFrame(rows, PAIRS)
        return _ok(C.subset_ok(sub, sup, ("id_a", "id_b"), "ok"))

    assert ok([(1, 3)]) is True
    assert ok([(1, 3), (1, 3)]) is True  # a subset, not a multiset check
    assert ok([(1, 3), (2, 3)]) is False  # (2, 3) is not in sup


def test_recall_floor_ok(spark):
    exact = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)], PAIRS)

    def ok(rows, floor):
        approx = spark.createDataFrame(rows, PAIRS)
        leg = C.recall_floor_ok(approx, exact, ("id_a", "id_b"), floor, "ok")
        return _ok(leg)

    three = [(1, 2), (1, 3), (2, 3), (7, 8)]  # (7, 8) is no true pair
    assert ok(three, 0.75) is True
    assert ok(three, 0.8) is False  # (3, 4) is missed
    assert ok([], 0.0) is True


def test_same_label_ok(spark):
    """Both failure shapes: an edge across two labels, and an edge
    whose endpoint has no label or a null one (an inner join would drop
    that edge and pass)."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, None)], "id long, canonical_id long"
    )

    def ok(edges):
        df = spark.createDataFrame(edges, PAIRS)
        return _ok(C.same_label_ok(df, labels, "ok"))

    assert ok([(1, 2), (3, 4)]) is True
    assert ok([(1, 2), (2, 3)]) is False  # merges two clusters
    assert ok([(1, 2), (3, 9)]) is False  # 9 has no label
    assert ok([(9, 1)]) is False
    assert ok([(1, 2), (5, 5)]) is False  # a null label


def test_simhash_banding_complete_ok(spark, monkeypatch):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "an entirely different sentence about rivers"),
        ],
        "doc_id long, text string",
    )
    assert _ok(C.simhash_banding_complete_ok(docs)) is True

    banded = C.D.simhash_near_pairs
    # a banded join that loses a pair the brute-force scan finds
    monkeypatch.setattr(
        C.D, "simhash_near_pairs", lambda *a, **k: banded(*a, **k).limit(0)
    )
    assert _ok(C.simhash_banding_complete_ok(docs)) is False


def test_minhash_lsh_ok(spark):
    exact = spark.createDataFrame(
        [(1, 2, 0.95), (1, 3, 0.4), (2, 3, 0.92)],
        "id_a long, id_b long, jaccard double",
    )

    def legs(rows):
        lsh = spark.createDataFrame(rows, PAIRS)
        prec, rec = C.minhash_lsh_ok(lsh, exact, "rec")
        return _ok(prec), _ok(rec)

    assert legs([(1, 2), (2, 3)]) == (True, True)  # (1, 3) is not strong
    assert legs([(1, 2), (2, 3), (3, 4)]) == (False, True)  # a false pair
    assert legs([(1, 2), (1, 3)]) == (True, False)  # a strong pair missed


def _hand_written_legs(tree: ast.Module) -> list[str]:
    found = []
    for node in ast.walk(tree):
        # X.exceptAll(Y).unionAll(Y.exceptAll(X))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "unionAll"
            and isinstance(node.func.value, ast.Call)
            and getattr(node.func.value.func, "attr", None) == "exceptAll"
            and node.args
            and isinstance(node.args[0], ast.Call)
            and getattr(node.args[0].func, "attr", None) == "exceptAll"
        ):
            found.append(f"{node.lineno}: symmetric exceptAll")
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
            isinstance(n, ast.Constant) and n.value == "_hit" for n in ast.walk(node)
        ):
            found.append(f"{node.lineno}: _hit recall leg in {node.name}")
    for node in tree.body:
        # a module-level memo: a WeakKeyDictionary or a *MEMO* name
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            weak = any(
                isinstance(n, ast.Call)
                and getattr(n.func, "attr", getattr(n.func, "id", None))
                == "WeakKeyDictionary"
                for n in ast.walk(node)
            )
            if weak or any("MEMO" in n.upper() for n in names):
                found.append(f"{node.lineno}: truth memo {names}")
    return found


def test_legs_are_written_only_in_certify():
    """A plans module other than certify.py must call the legs, not
    hand-write a symmetric exceptAll leg, a ``_hit`` recall leg or a
    truth memo of its own."""
    plans = Path(C.__file__).resolve().parent
    found = []
    for path in sorted(plans.glob("*.py")):
        if path.name == "certify.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        found += [f"plans/{path.name}:{hit}" for hit in _hand_written_legs(tree)]
    assert not found, found
