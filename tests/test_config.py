"""The ``PipelineConfig`` surface carries no dead knobs: every field is read
by the engine, so a setting a user passes always changes something."""

import ast
import dataclasses
import pathlib

import kafka_connect_oss_spark
from kafka_connect_oss_spark.config import PipelineConfig

PACKAGE = pathlib.Path(kafka_connect_oss_spark.__file__).parent
CONFIG = PACKAGE / "config.py"


def _loads(tree):
    """``(receiver, attr)`` for every attribute read in ``tree``."""
    return {(ast.unparse(n.value), n.attr) for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)}


def test_every_config_field_is_read_outside_config():
    reads = set()
    for path in PACKAGE.rglob("*.py"):
        if path != CONFIG:
            reads |= _loads(ast.parse(path.read_text()))
    # config objects are bound as ``cfg`` (``self.cfg``, ``big_cfg``, ...)
    read_fields = {attr for recv, attr in reads if recv.endswith("cfg")}
    # a PipelineConfig method that the engine calls reads its fields too
    # (``extension()`` reads ``byte_extension``); validation does not count
    called = {attr for _, attr in reads}
    cls = next(n for n in ast.parse(CONFIG.read_text()).body
               if isinstance(n, ast.ClassDef) and n.name == "PipelineConfig")
    for fn in cls.body:
        if (isinstance(fn, ast.FunctionDef) and fn.name in called
                and fn.name != "__post_init__"):
            read_fields |= {attr for recv, attr in _loads(fn)
                            if recv == "self"}
    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    assert not fields - read_fields, \
        f"PipelineConfig fields nothing reads: {sorted(fields - read_fields)}"
