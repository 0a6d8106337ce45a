"""Fingerprint of the driver contract: the ``queries()`` names in their
registered order (the correctness harness runs the first 50 entries, so
order is part of the contract) and the sha256 of every ``oracle_sql()``
string, checked against ``entry_manifest.json``. A refactor of the entry
file must leave both untouched; a deliberate change regenerates the
manifest with ``PYTHONPATH=. python tests/test_entry_manifest.py``."""

import hashlib
import json
import pathlib

import __spark_entry__ as entry_mod

MANIFEST = pathlib.Path(__file__).with_name("entry_manifest.json")


def current_manifest() -> dict:
    return {
        "queries": list(entry_mod.queries()),
        "oracle_sql": {
            name: hashlib.sha256(sql.encode()).hexdigest()
            for name, sql in entry_mod.oracle_sql().items()
        },
    }


def test_entry_manifest_unchanged():
    want = json.loads(MANIFEST.read_text())
    got = current_manifest()
    assert got["queries"] == want["queries"]
    assert got["oracle_sql"] == want["oracle_sql"]


if __name__ == "__main__":
    MANIFEST.write_text(json.dumps(current_manifest(), indent=1) + "\n")
