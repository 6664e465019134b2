"""Import smoke test: every module of the package imports, and every
example byte-compiles, so a deletion that leaves a dangling import
fails here even where no other test loads the module.

``worker_daemon`` and ``__main__`` are safe to import: both run their
work only under ``if __name__ == "__main__"``."""

from __future__ import annotations

import importlib
import pkgutil
from pathlib import Path

import pytest

import kafka_connect_ftp_spark

_MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(
        kafka_connect_ftp_spark.__path__, kafka_connect_ftp_spark.__name__ + "."
    )
)
_EXAMPLES = sorted((Path(__file__).resolve().parents[1] / "examples").glob("*.py"))


def test_module_walk_found_the_package():
    assert "kafka_connect_ftp_spark.sources.ftp" in _MODULES
    assert "kafka_connect_ftp_spark.ingest.pipeline" in _MODULES
    assert _EXAMPLES


@pytest.mark.parametrize("name", _MODULES)
def test_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("path", _EXAMPLES, ids=lambda p: p.name)
def test_example_compiles(path):
    compile(path.read_text(), str(path), "exec")
