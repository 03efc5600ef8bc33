"""The driver's correctness gate samples the first 50 entries of
``registry.queries()``: the curated ``_SPOTLIGHT`` head, then the
rotated picks. These checks read the registry only; no Spark job runs."""

from etl_mp_transactions_spark import registry

WINDOW = 50


def test_window_is_spotlight_then_rotation():
    names = list(registry.queries())
    head = names[:WINDOW]
    assert len(set(head)) == WINDOW
    assert set(head) <= set(registry._QUERIES)
    assert head[: len(registry._SPOTLIGHT)] == registry._SPOTLIGHT
    assert len(registry._SPOTLIGHT) == WINDOW - registry._ROTATION_SLOTS


def test_spotlight_has_no_duplicates():
    # a duplicate would silently shrink the window by one slot
    assert len(set(registry._SPOTLIGHT)) == len(registry._SPOTLIGHT)


def test_every_entry_once_and_oracles_in_window_order():
    names = list(registry.queries())
    assert sorted(names) == sorted(registry._QUERIES)
    assert len(names) == len(set(names))
    oracles = list(registry.oracle_sql())
    assert oracles == [n for n in names if n in registry._ORACLES]


def test_no_poscontrol_probe_is_registered():
    assert not [n for n in registry.queries() if "poscontrol_" in n]
