"""merge_changes against a pure-Python dict reference (mergechange.go
semantics): the newest change per key wins by the full (seq, change_type,
value) tuple, delete removes, modify/create replace or insert."""

import random

from osmquadtree_depreceated_spark.operators.update import merge_changes

SCHEMA_BASE = "key long, val long"
SCHEMA_CH = "key long, seq long, change_type string, val long"


def _reference(base, changes):
    """Dict reference: latest change per key by tuple max (a NULL value
    sorts last under descending order, so it loses every tie), then
    apply."""
    latest = {}
    for key, seq, ct, val in changes:
        rank = (seq, ct, float("-inf") if val is None else val)
        if key not in latest or rank > latest[key][0]:
            latest[key] = (rank, ct, val)
    out = dict(base)
    for key, (_, ct, val) in latest.items():
        if ct == "delete":
            out.pop(key, None)
        elif ct in ("modify", "create"):
            out[key] = val
    return out


def _merge(spark, base, changes):
    got = merge_changes(
        spark.createDataFrame(sorted(base.items()), SCHEMA_BASE),
        spark.createDataFrame(changes, SCHEMA_CH),
        "key",
    ).collect()
    keys = [r["key"] for r in got]
    assert len(keys) == len(set(keys)), "duplicate keys in merge output"
    return {r["key"]: r["val"] for r in got}


def test_merge_changes_edge_cases(spark):
    base = {1: 10, 2: 20, 3: 30, 4: 40}
    changes = [
        (1, 1, "modify", 11),      # modify of an existing key
        (2, 1, "create", 21),      # create of an existing key replaces
        (3, 1, "delete", None),    # delete of an existing key
        (50, 1, "delete", None),   # delete of an unseen key: no-op
        (51, 1, "modify", 510),    # modify of an unseen key inserts
        (52, 1, "create", 520),    # create of an unseen key inserts
        # equal-seq ties resolve by the full tuple: 'modify' > 'delete'
        (4, 2, "delete", None), (4, 2, "modify", 41),
        # ... and by value within the same change_type
        (51, 2, "create", 5), (51, 2, "create", 7),
    ]
    want = {1: 11, 2: 21, 4: 41, 51: 7, 52: 520}
    assert _reference(base, changes) == want
    assert _merge(spark, base, changes) == want


def test_merge_changes_matches_dict_reference_randomized(spark):
    for seed in range(4):
        rng = random.Random(seed)
        base = {k: rng.randrange(100) for k in range(30)}
        changes = []
        for _ in range(80):
            ct = rng.choice(("delete", "modify", "create"))
            val = None if ct == "delete" and rng.random() < 0.5 else (
                rng.randrange(4))
            # keys 30..44 are unseen by the base; seq in 1..3 forces ties
            changes.append((rng.randrange(45), rng.randrange(1, 4), ct, val))
        assert _merge(spark, base, changes) == _reference(base, changes), seed


def test_merge_changes_other_change_type_is_noop(spark):
    base = {1: 10, 2: 20}
    # the newest change wins even when its type is not applied
    changes = [(1, 1, "modify", 11), (1, 2, "touch", 12),
               (3, 1, "touch", 30)]
    assert _merge(spark, base, changes) == {1: 10, 2: 20}
