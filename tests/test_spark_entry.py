"""Per-application state of the driver contract (__spark_entry__): the
package zip is registered once per Spark application, every query ships
it first, and the cached KG belongs to the application that built it."""

import pytest


class _StubContext:
    def __init__(self, app_id):
        self.applicationId = app_id
        self.py_files = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _StubSession:
    def __init__(self, app_id):
        self.sparkContext = _StubContext(app_id)


class _Shipped(Exception):
    pass


def test_ship_package_once_per_application():
    import __spark_entry__ as E

    first, again, other = (_StubSession("app-ship-1"),
                           _StubSession("app-ship-1"),
                           _StubSession("app-ship-2"))
    E._ship_package(first)
    E._ship_package(first)
    E._ship_package(again)
    assert len(first.sparkContext.py_files) == 1
    assert again.sparkContext.py_files == []
    E._ship_package(other)
    assert other.sparkContext.py_files == first.sparkContext.py_files


def test_every_query_ships_the_package_first(monkeypatch):
    import __spark_entry__ as E

    def ship(spark):
        raise _Shipped(spark.sparkContext.applicationId)

    monkeypatch.setattr(E, "_ship_package", ship)
    for name, query in E.queries().items():
        with pytest.raises(_Shipped):
            query(_StubSession(name), "/nonexistent")


def test_cached_kg_is_keyed_on_the_application(monkeypatch):
    import __spark_entry__ as E

    kg = {"nodes": None, "edges": None}
    monkeypatch.setattr(E, "_KG_CACHE", {("app-kg-1", 400, "seed"): kg})

    def ship(spark):
        raise _Shipped(spark.sparkContext.applicationId)

    monkeypatch.setattr(E, "_ship_package", ship)
    assert E._kg(_StubSession("app-kg-1")) is kg
    with pytest.raises(_Shipped):
        E._kg(_StubSession("app-kg-2"))
