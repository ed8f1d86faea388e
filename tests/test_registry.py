"""The query registry without a Spark session: every family module
imports the names it uses, and ``queries()`` / ``oracle_sql()`` expose
the registry in registration order."""

from __future__ import annotations

import builtins
import glob
import os
import symtable

import pytest

import __spark_entry__
from hi_csa_db_spark.queries import _ORACLES, _QUERIES, oracle_sql, queries

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "hi_csa_db_spark",
    "queries",
)
_MODULE_ATTRS = {"__file__", "__name__", "__doc__", "__spec__", "__package__"}


def _scopes(table: symtable.SymbolTable):
    yield table
    for child in table.get_children():
        yield from _scopes(child)


def _unbound_globals(path: str) -> dict[str, str]:
    """Names some scope of ``path`` reads as a global that the module
    never binds and that are not builtins -> the first scope reading it.
    Any such name is a ``NameError`` waiting for the code path to run."""
    with open(path, encoding="utf-8") as fh:
        top = symtable.symtable(fh.read(), path, "exec")
    bound = set(dir(builtins)) | _MODULE_ATTRS
    for scope in _scopes(top):
        for sym in scope.get_symbols():
            at_module = scope is top or sym.is_declared_global()
            if at_module and (sym.is_assigned() or sym.is_imported() or sym.is_namespace()):
                bound.add(sym.get_name())
    unbound: dict[str, str] = {}
    for scope in _scopes(top):
        for sym in scope.get_symbols():
            name = sym.get_name()
            if not sym.is_referenced() or name in bound:
                continue
            if scope is top or sym.is_global():
                unbound.setdefault(name, scope.get_name())
    return unbound


_MODULES = sorted(glob.glob(os.path.join(_PKG, "*.py")))


def test_family_modules_found():
    names = {os.path.basename(p) for p in _MODULES}
    assert {"__init__.py", "_shared.py", "q_corpus.py", "q_relational.py"} <= names


@pytest.mark.parametrize("path", _MODULES, ids=os.path.basename)
def test_every_global_a_module_reads_is_bound(path):
    assert _unbound_globals(path) == {}


def test_unbound_global_is_detected(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import os\n"
        "X = 1\n"
        "def f():\n"
        "    return os.sep, X, len(''), _helper()\n"
    )
    assert _unbound_globals(str(src)) == {"_helper": "f"}


def test_registry_is_in_registration_order():
    assert list(queries()) == list(_QUERIES)
    assert list(oracle_sql()) == [n for n in _QUERIES if n in _ORACLES]
    assert set(oracle_sql()) <= set(queries())
    assert len(queries()) == 465
    assert len(oracle_sql()) == 464


def test_entry_contract_is_the_registry():
    assert __spark_entry__.queries() == queries()
    assert __spark_entry__.oracle_sql() == oracle_sql()
