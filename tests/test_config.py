"""Every HydraConfig field is a knob the package actually reads: a field
nothing reads is a toggle left behind by a finished experiment."""

import ast
import dataclasses
from pathlib import Path

import hydra_spark
from hydra_spark.config import HydraConfig


def test_every_config_field_is_read():
    pkg = Path(hydra_spark.__file__).parent
    read: set[str] = set()
    for path in pkg.rglob("*.py"):
        if path == pkg / "config.py":
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        read.update(node.attr for node in ast.walk(tree) if isinstance(node, ast.Attribute))
    unread = [f.name for f in dataclasses.fields(HydraConfig) if f.name not in read]
    assert unread == [], f"HydraConfig fields nothing in hydra_spark/ reads: {unread}"
