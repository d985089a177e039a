import importlib
import pkgutil
from types import ModuleType

from .registry import QUERIES, QueryEntry, query  # noqa: F401

_ROOT = __name__.partition(".")[0]


def load_all() -> None:
    """Import every module of the package, so each ``@query`` registers
    (idempotent). A module joins the registry by existing; there is no
    list to keep in step.

    The walk imports each module itself instead of using
    ``pkgutil.walk_packages``, which swallows an ``ImportError`` raised
    by a subpackage: a failed import is a broken build and must surface,
    not silently shrink the registry. (``streaming/typed_state.py``
    registers its query only when ``google.protobuf`` imports; that gate
    sits inside the module, which itself always imports.)"""
    _import_tree(importlib.import_module(_ROOT))


def _import_tree(pkg: ModuleType) -> None:
    for info in pkgutil.iter_modules(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        if info.ispkg:
            _import_tree(mod)
