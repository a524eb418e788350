"""Guard the driver's oracle window.

The driver oracles the FIRST ``ORACLE_WINDOW`` entries of ``queries()``
in dict-insertion order and commits each result as
``CORRECTNESS_r{N}.json``. ``queries()`` and ``oracle_sql()`` list the
registry stalest first, by the latest round with a green row in those
files, so the window always holds the queries checked longest ago. These
tests assert that property against the committed files and on synthetic
ones.
"""

from __future__ import annotations

import json

from youtube_scraper_db_spark import registry

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _names() -> list[str]:
    return [s.name for s in registry.REGISTRY]


def _write_round(root, rnd: int, rows: dict[str, dict]) -> None:
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _green_for_all_but(root, rnd: int, skip: set[str]) -> None:
    _write_round(root, rnd, {n: GREEN for n in _names() if n not in skip})


def test_window_is_the_stalest_by_committed_rounds():
    latest = registry.last_green_rounds()
    index = {n: i for i, n in enumerate(_names())}
    stalest = sorted(_names(), key=lambda n: (latest.get(n, 0), index[n]))
    window = list(registry.queries())[: registry.ORACLE_WINDOW]
    assert window == stalest[: registry.ORACLE_WINDOW]


def test_never_checked_query_sorts_first(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_ROOT", str(tmp_path))
    late = _names()[-1]
    _green_for_all_but(tmp_path, 3, {late})
    assert list(registry.queries())[0] == late


def test_red_rows_do_not_count_as_green(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_ROOT", str(tmp_path))
    a, b, c = _names()[-3:]
    _green_for_all_but(tmp_path, 1, set())
    _write_round(
        tmp_path,
        2,
        {n: GREEN for n in _names() if n not in {a, b, c}}
        | {
            a: GREEN | {"rows_match": False},
            b: GREEN | {"hash_match": False},
            c: GREEN | {"err": "boom"},
        },
    )
    latest = registry.last_green_rounds()
    assert {latest[n] for n in (a, b, c)} == {1}
    assert list(registry.queries())[:3] == [a, b, c]


def test_rows_only_check_counts_as_green(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_ROOT", str(tmp_path))
    name = _names()[0]
    _write_round(tmp_path, 5, {name: GREEN | {"hash_match": None}})
    assert registry.last_green_rounds() == {name: 5}
    assert list(registry.queries())[-1] == name


def test_no_files_gives_registration_order(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_ROOT", str(tmp_path))
    assert registry.last_green_rounds() == {}
    assert list(registry.queries()) == _names()


def test_accessors_leave_registry_unmutated_and_agree():
    before = list(registry.REGISTRY)
    q, o = registry.queries(), registry.oracle_sql()
    assert registry.REGISTRY == before
    assert list(o) == [n for n in q if n in o]


def test_every_windowed_query_has_an_oracle():
    window = list(registry.queries())[: registry.ORACLE_WINDOW]
    oracles = registry.oracle_sql()
    missing = [n for n in window if n not in oracles]
    assert not missing, f"windowed queries with no oracle SQL (weaker check): {missing}"


def test_registry_has_no_duplicate_names():
    names = _names()
    assert len(names) == len(set(names))


def test_queries_and_oracles_cover_registry():
    q = registry.queries()
    assert len(q) == len(registry.REGISTRY)
    # every oracle key must correspond to a registered query
    assert set(registry.oracle_sql()) <= set(q)
