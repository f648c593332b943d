"""``extractor.publish`` is the engine's one directory-publish primitive:
``replace_dir`` swaps a staged directory in by rename-aside and
``recover_dir`` repairs a crash between its two renames.  Its contract is
pinned here on plain directories, and a source check keeps every
directory rename in that module and the content fingerprint aggregate
(count + decimal sum of xxhash64) in ``extractor.checkpoint`` only."""

import ast
import os
import pathlib
import re

from extractor.publish import recover_dir, replace_dir

EXTRACTOR = pathlib.Path(__file__).resolve().parent.parent / "extractor"


def _dir(path, content):
    os.makedirs(path)
    with open(os.path.join(path, "f"), "w") as f:
        f.write(content)


def _read(path):
    with open(os.path.join(path, "f")) as f:
        return f.read()


def _paths(tmp_path):
    return (str(tmp_path / "staged"), str(tmp_path / "t"),
            str(tmp_path / "t.bak"))


def test_replace_dir_first_publish(tmp_path):
    staged, target, bak = _paths(tmp_path)
    _dir(staged, "new")
    replace_dir(staged, target, bak)
    assert _read(target) == "new"
    assert not os.path.exists(staged) and not os.path.exists(bak)


def test_replace_dir_replaces_target(tmp_path):
    staged, target, bak = _paths(tmp_path)
    _dir(target, "old")
    _dir(staged, "new")
    replace_dir(staged, target, bak)
    assert _read(target) == "new"
    assert not os.path.exists(staged) and not os.path.exists(bak)


def test_recover_dir_restores_backup_without_target(tmp_path):
    _, target, bak = _paths(tmp_path)
    _dir(bak, "published")  # crash after target -> bak, before staged in
    recover_dir(target, bak)
    assert _read(target) == "published"
    assert not os.path.exists(bak)


def test_recover_dir_drops_backup_beside_target(tmp_path):
    _, target, bak = _paths(tmp_path)
    _dir(target, "new")  # crash after staged in, before bak dropped
    _dir(bak, "old")
    recover_dir(target, bak)
    assert _read(target) == "new"
    assert not os.path.exists(bak)


def test_recover_dir_without_backup_is_a_no_op(tmp_path):
    _, target, bak = _paths(tmp_path)
    recover_dir(target, bak)
    assert not os.path.exists(target) and not os.path.exists(bak)
    _dir(target, "live")
    recover_dir(target, bak)
    assert _read(target) == "live"


def test_replace_dir_recovers_leftover_backup_first(tmp_path):
    staged, target, bak = _paths(tmp_path)
    _dir(bak, "published")
    _dir(staged, "new")
    replace_dir(staged, target, bak)
    assert _read(target) == "new"
    assert not os.path.exists(bak)


# The single-file manifest commit renames a file, not a directory.
_RENAME_ALLOWED = {("publish", "recover_dir"), ("publish", "replace_dir"),
                   ("manifest_sink", "_rewrite_manifest")}
# the fingerprint spelled as SQL text, after whitespace is stripped
_SQL_FINGERPRINT = re.compile(r"sum\(cast\(xxhash64\(.*?asdecimal", re.I)


def _name(func):
    return getattr(func, "attr", None) or getattr(func, "id", None)


def _names(node):
    return {_name(n) for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def _is_fingerprint(call):
    if _name(call.func) != "sum":
        return False
    inner = [n for n in ast.walk(call) if n is not call]
    return any(isinstance(n, ast.Call) and _name(n.func) == "xxhash64"
               for n in inner) and "DecimalType" in _names(call)


def _is_sql_fingerprint(node):
    return (isinstance(node, ast.Constant) and isinstance(node.value, str)
            and _SQL_FINGERPRINT.search(re.sub(r"\s", "", node.value)))


def _sites(root=EXTRACTOR):
    """(module, innermost function) of every ``os.rename``/``os.replace``
    call and every fingerprint aggregate under *root*."""
    renames, fingerprints = [], []
    func = (ast.FunctionDef, ast.AsyncFunctionDef)

    def visit(node, mod, scope):
        if isinstance(node, func):
            scope = node.name
        if isinstance(node, ast.Call):
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr in ("rename", "replace")
                    and isinstance(f.value, ast.Name) and f.value.id == "os"):
                renames.append((mod, scope))
            if _is_fingerprint(node):
                fingerprints.append((mod, scope))
        if _is_sql_fingerprint(node):
            fingerprints.append((mod, scope))
        for child in ast.iter_child_nodes(node):
            visit(child, mod, scope)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.stem, "<module>")
    return renames, fingerprints


def test_directory_renames_only_in_publish():
    renames, _ = _sites()
    assert ("publish", "replace_dir") in renames
    stray = [s for s in renames if s not in _RENAME_ALLOWED]
    assert not stray, f"publish directories with extractor.publish: {stray}"


def test_fingerprint_aggregate_defined_once():
    _, fingerprints = _sites()
    assert fingerprints == [("checkpoint", "_fingerprint")]
