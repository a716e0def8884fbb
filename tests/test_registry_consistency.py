"""Registry invariants: ``queries.py`` merges its own core dicts with
each family module's ``QUERIES`` / ``ORACLES`` in one ``update`` loop, so
these pin that the merge drops nothing and that every query still pairs
with its oracle (``__spark_entry__.py`` serves the merged dicts)."""

import inspect
from pathlib import Path

from tracker_trainer_spark import queries
from tracker_trainer_spark.queries import ORACLES, QUERIES


def _parts(core, attr):
    return [("queries", core)] + [
        (family.__name__, getattr(family, attr)) for family in queries.FAMILIES]


def test_every_family_module_is_merged():
    package = Path(queries.__file__).parent
    on_disk = {f"tracker_trainer_spark.{p.stem}"
               for p in package.glob("queries_*_ext.py")}
    assert on_disk == {family.__name__ for family in queries.FAMILIES}


def test_merged_dicts_are_disjoint_and_complete():
    # dict.update would silently let a later family replace an earlier
    # entry of the same name; the sizes must add up instead
    for parts, merged in ((_parts(queries.CORE_QUERIES, "QUERIES"), QUERIES),
                          (_parts(queries.CORE_ORACLES, "ORACLES"), ORACLES)):
        seen: dict[str, str] = {}
        for module, part in parts:
            clash = {name: seen[name] for name in part if name in seen}
            assert not clash, (module, clash)
            seen.update(dict.fromkeys(part, module))
        assert sum(len(part) for _, part in parts) == len(merged)
    assert (len(QUERIES), len(ORACLES)) == (177, 176)


def test_each_family_pairs_its_own_queries_and_oracles():
    for (module, qs), (_, os_) in zip(_parts(queries.CORE_QUERIES, "QUERIES"),
                                      _parts(queries.CORE_ORACLES, "ORACLES")):
        assert set(os_) <= set(qs), (module, set(os_) - set(qs))


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES), set(ORACLES) - set(QUERIES)


def test_queries_without_oracle_are_the_declared_exceptions():
    # non-SQL-expressible ops only — anything else missing an oracle is
    # a silent hole in the correctness gate
    # media_image_features left this set in r7 (portable stub decode →
    # SQL-expressible); train_encode_events left in r8 (numeric vector
    # slots exposed → full oracle; the xxh3 string slot stays outside,
    # adjudicated in its docstring)
    assert set(QUERIES) - set(ORACLES) == {
        "train_e2e_metrics",      # model fits + inference (r6)
    }


def test_query_callables_take_spark_and_sfdir():
    for name, fn in QUERIES.items():
        params = list(inspect.signature(fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], (name, params)


def test_entry_module_exposes_full_registry():
    import __spark_entry__ as e

    assert set(e.queries()) == set(QUERIES)
    assert e.oracle_sql() == ORACLES
