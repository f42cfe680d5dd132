"""perfbench's span tracer patches layer functions by (module, attr) name.
A refactor that renames or moves one of them must fail here, not only
in a traced benchmark run."""

import ast
import importlib
from pathlib import Path

SPANS = Path(__file__).resolve().parent.parent / "perfbench" / "spans.py"


def _lazy_layers() -> list[tuple[str, str, str]]:
    tree = ast.parse(SPANS.read_text(encoding="utf-8"))
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "LAZY_LAYERS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/spans.py defines no LAZY_LAYERS")


def test_lazy_layer_targets_resolve():
    layers = _lazy_layers()
    assert layers
    round_mod = importlib.import_module("hydra_spark.crawl.round")
    for layer, module, attr in layers:
        target = importlib.import_module(module)
        for part in attr.split("."):
            target = getattr(target, part, None)
            assert target is not None, f"{layer}: {module}.{attr} does not resolve"
        assert callable(target), f"{layer}: {module}.{attr} is not callable"
        # the round must look a function of another module up at call
        # time: a copy bound at import would bypass the patch
        if module != round_mod.__name__ and "." not in attr:
            assert getattr(round_mod, attr, None) is not target, (
                f"{layer}: hydra_spark.crawl.round binds {module}.{attr} at import"
            )
