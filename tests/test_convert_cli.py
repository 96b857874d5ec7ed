"""The reference-compatible convert CLI end to end, and the library's
silence: operators and query paths print nothing — counts come back in
return values and the CLI reports them."""

from __future__ import annotations

import ast
import os

import pytest

from pcap_converter_spark.cli import main
from pcap_converter_spark.schema import PACKETS_SCHEMA

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pcap_converter_spark",
)
FIXTURE_PCAP = os.path.join(
    os.path.dirname(_PKG), "fixtures", "data", "packets_fixture.pcap"
)


def test_cli_convert_writes_parquet_and_reports_counts(
    spark, tmp_path, capsys
):
    out = str(tmp_path / "out.parquet")
    # the CLI reuses the running session and applies its own tuning
    # confs to it; put back what later tests read
    keep = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
        )
    }
    try:
        assert main(["-f", FIXTURE_PCAP, "-o", out]) == 0
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)
    err = capsys.readouterr().err
    assert "2500 packets" in err
    assert "0 decode errors" in err
    assert "Packets:" not in err  # the library's own line is gone
    produced = spark.read.schema(PACKETS_SCHEMA).parquet(out)
    assert produced.count() == 2500
    on_disk = spark.read.parquet(out).schema
    assert [f.name for f in on_disk] == [f.name for f in PACKETS_SCHEMA]
    assert [f.dataType for f in on_disk] == [
        f.dataType for f in PACKETS_SCHEMA
    ]


def test_cli_convert_missing_input_errors_like_subcommands(tmp_path):
    missing = str(tmp_path / "nope-*.pcap")
    with pytest.raises(SystemExit) as exc:
        main(["-f", missing, "-o", str(tmp_path / "out")])
    assert str(exc.value) == f"error: no files match {missing!r}"
    assert not (tmp_path / "out").exists()


def test_cli_convert_rejects_html_extract(tmp_path, capsys):
    with pytest.raises(SystemExit) as exc:
        main(["-f", FIXTURE_PCAP, "-o", str(tmp_path / "out"),
              "--html-extract", "main"])
    assert exc.value.code == 2  # argparse: unrecognized argument
    assert "--html-extract" in capsys.readouterr().err


def test_operators_and_queries_do_not_print():
    offenders = []
    for sub in ("operators", "queries", "sources", "streaming"):
        root = os.path.join(_PKG, sub)
        for name in sorted(os.listdir(root)):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            offenders += [
                f"{sub}/{name}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "print"
            ]
    assert not offenders, f"library code prints: {offenders}"
