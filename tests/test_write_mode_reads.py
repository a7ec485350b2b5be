"""The layout rule of `lake/table.py`, pinned statically (no Spark session).

A bucket's file count decides how it is read, pruned, compacted and expired;
the table's create-time `write_mode` makes exactly one decision — which
touched buckets a data commit replaces (`_replaced_buckets`). This sweep
fails when `write_mode` is read anywhere else in `lake/table.py` except
create/validation and the stats/history reporting, when `_rewrite` regains
an `append` switch, or when a function groups files by bucket by hand
instead of using the manifest's one bucket index (`Manifest.by_bucket`).
"""

import ast
import os
import re

TABLE = os.path.join(os.path.dirname(__file__), "..",
                     "change_data_capturer_ms_spark", "lake", "table.py")

# enclosing function -> why reading the mode there is allowed
ALLOWED = {
    "__init__": "validation of the LakeTable(write_mode=) argument",
    "create": "records the mode in the create-time manifest",
    "stats": "reports the mode",
    "history_df": "reports the mode per snapshot",
    "_replaced_buckets": "the one write decision",
}


def _tree():
    with open(TABLE) as f:
        return ast.parse(f.read())


def _is_mode_read(node) -> bool:
    return ((isinstance(node, ast.Attribute)
             and node.attr in ("write_mode", "_write_mode"))
            or (isinstance(node, ast.Name) and node.id == "write_mode")
            or (isinstance(node, ast.keyword) and node.arg == "write_mode"))


def _mode_reads() -> dict[str, int]:
    """Reads of the mode per innermost enclosing function."""
    out: dict[str, int] = {}

    def visit(node, fn):
        if isinstance(node, ast.FunctionDef):
            fn = node.name
        elif _is_mode_read(node):
            out[fn] = out.get(fn, 0) + 1
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(_tree(), "<module>")
    return out


def test_write_mode_is_read_only_where_allowed():
    reads = _mode_reads()
    unknown = sorted(set(reads) - set(ALLOWED))
    assert not unknown, (
        "write_mode read outside create/validation, reporting and the "
        f"replaced-buckets decision: {unknown} — state the rule per bucket "
        "(Manifest.by_bucket file counts) instead")
    assert reads.get("_replaced_buckets") == 1, reads


def test_rewrite_has_no_append_switch():
    (rewrite,) = [f for f in ast.walk(_tree())
                  if isinstance(f, ast.FunctionDef) and f.name == "_rewrite"]
    params = [a.arg for a in rewrite.args.args + rewrite.args.kwonlyargs]
    assert "append" not in params, params


def test_no_hand_rolled_bucket_grouping():
    """Every bucket -> files map comes from Manifest.by_bucket."""
    pat = re.compile(r"setdefault\(\w+\.bucket\b|\[\w+\.bucket\]\s*=")
    with open(TABLE) as f:
        hits = [line.strip() for line in f
                if pat.search(line.split("#", 1)[0])]
    assert not hits, hits
