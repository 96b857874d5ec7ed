"""The driver contract fails loudly when the extension registry cannot be
imported, instead of silently dropping every ``ex_*`` runner and oracle."""

from __future__ import annotations

import sys

import pytest

import __spark_entry__ as entry


def test_broken_registry_import_raises_out_of_queries(monkeypatch):
    # a None entry in sys.modules makes the import raise ImportError
    monkeypatch.setitem(
        sys.modules, "pcap_converter_spark.operators.registry", None
    )
    with pytest.raises(ImportError):
        entry.queries()
    with pytest.raises(ImportError):
        entry.oracle_sql()
