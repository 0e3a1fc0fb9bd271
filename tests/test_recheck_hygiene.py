"""Mechanical _RECHECK hygiene (SCALE.md "Correctness-attestation
hygiene"): driver CORRECTNESS rows attest the code AS OF the round they
were taken, so any behavior change to a registered query must add a
registry._RECHECK entry or the stale green row keeps vouching for code
that no longer exists.

This test makes the rule impossible to forget: every engine module is
fingerprinted into tests/module_fingerprints.json, and a commit that
changes a module without regenerating the lockfile fails here. The
regeneration step (`python tests/test_recheck_hygiene.py`) is the
moment to decide: did this change any registered query's RESULTS? If
yes, add `{query_name: <next round>}` to registry._RECHECK in the same
commit; if no (comment/doc/perf-neutral refactor), regenerating the
lockfile IS the no-behavior-change attestation.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "recipes_spark")
LOCKFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "module_fingerprints.json")


def current_fingerprints() -> dict[str, str]:
    out: dict[str, str] = {}
    for dirpath, dirnames, filenames in os.walk(PKG):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, REPO)
            with open(path, "rb") as fh:
                out[rel] = hashlib.sha256(fh.read()).hexdigest()[:16]
    entry = os.path.join(REPO, "__spark_entry__.py")
    with open(entry, "rb") as fh:
        out["__spark_entry__.py"] = hashlib.sha256(fh.read()).hexdigest()[:16]
    return out


def test_recheck_names_are_registered():
    """A typo'd _RECHECK key silently re-checks nothing."""
    from recipes_spark.registry import _RECHECK, all_queries

    unknown = set(_RECHECK) - set(all_queries())
    assert not unknown, f"_RECHECK entries for unregistered queries: {unknown}"


def test_module_fingerprints_current():
    with open(LOCKFILE) as fh:
        locked = json.load(fh)
    cur = current_fingerprints()
    changed = sorted(
        set(k for k in cur if locked.get(k) != cur[k])
        | (set(locked) - set(cur))
    )
    assert not changed, (
        "engine modules changed without updating the attestation lockfile:\n  "
        + "\n  ".join(changed)
        + "\nIf the change alters any registered query's results, add "
        "registry._RECHECK entries for the affected queries NOW, then run "
        "`python tests/test_recheck_hygiene.py` to regenerate the lockfile "
        "in the same commit. If results are unchanged, regenerating is the "
        "no-behavior-change attestation."
    )


if __name__ == "__main__":
    with open(LOCKFILE, "w") as fh:
        json.dump(current_fingerprints(), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {LOCKFILE}")


def test_front_and_defer_names_are_registered_and_ordered():
    """_FRONT/_DEFER govern the driver's bounded per-round sample: a
    typo'd name silently reprioritizes nothing, and the invariants —
    tier-1 _RECHECK first, _FRONT leading the unattested tier, _DEFER
    trailing it, attested names last — must hold over the real
    registry + CORRECTNESS history."""
    from recipes_spark.registry import (
        _DEFER,
        _FRONT,
        _RECHECK,
        _driver_attested,
        all_queries,
    )

    order = list(all_queries())
    names = set(order)
    assert not (set(_FRONT) - names), "unregistered _FRONT names"
    assert not (set(_DEFER) - names), "unregistered _DEFER names"

    attested = _driver_attested()
    tiers = []
    for n in order:
        if n in attested:
            tiers.append(4)
        elif n in _RECHECK:
            tiers.append(0)
        elif n in _FRONT:
            tiers.append(1)
        elif n in _DEFER:
            tiers.append(3)
        else:
            tiers.append(2)
    assert tiers == sorted(tiers), (
        "registry ordering violates tier invariants: "
        + str([(n, t) for n, t in zip(order, tiers)][:40])
    )
    # Within the defer tier, older rounds' registrations must come
    # first — a new round's names can never displace prior backlog.
    defer_rounds = [_DEFER[n] for n, t in zip(order, tiers) if t == 3]
    assert defer_rounds == sorted(defer_rounds), defer_rounds


def _files_under(top, suffix=""):
    for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, top)):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        yield from (os.path.join(dirpath, f) for f in filenames if f.endswith(suffix))


def test_every_tool_is_referenced():
    """A script under tools/ must be run or cited by the Makefile, a
    test, an engine module or the verify skill: a one-off probe that
    nothing names is deleted, not kept (perfbench's tracer is the
    profiling instrument)."""
    paths = [
        os.path.join(REPO, "Makefile"),
        *_files_under("tests"),
        *_files_under("recipes_spark", ".py"),
        *_files_under(os.path.join(".claude", "skills")),
    ]
    corpus = "\n".join(Path(p).read_text(errors="replace") for p in paths)
    tools = sorted(f[:-3] for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py"))
    unnamed = [
        t for t in tools
        if not re.search(rf"\b{t}\.py\b|\b(?:from|import) {t}\b", corpus)
    ]
    assert not unnamed, f"tools/ scripts nothing references: {unnamed}"


def test_every_engine_function_is_named():
    """A top-level function or class under recipes_spark/ (other than a
    @query) must be named somewhere outside its own definition — in the
    engine, tests/, tools/, perfbench/, bench.py or __spark_entry__.py;
    one that nothing names is deleted, not kept. Raw text, not imports:
    the ``*_sql`` helpers are named only inside f-string oracles."""
    import ast
    from collections import Counter

    paths = [
        *(p for top in ("recipes_spark", "tests", "tools", "perfbench")
          for p in _files_under(top, ".py")),
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "__spark_entry__.py"),
    ]
    texts = {p: Path(p).read_text() for p in paths}
    words = Counter(w for text in texts.values() for w in re.findall(r"\w+", text))

    def is_query(node):
        return any(
            isinstance(d, ast.Call)
            and getattr(d.func, "id", getattr(d.func, "attr", None)) == "query"
            for d in node.decorator_list
        )

    unnamed = []
    for path in _files_under("recipes_spark", ".py"):
        lines = texts[path].splitlines()
        for node in ast.parse(texts[path]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or is_query(node):
                continue
            start = min([node.lineno, *(d.lineno for d in node.decorator_list)])
            own = "\n".join(lines[start - 1:node.end_lineno])
            if words[node.name] == re.findall(r"\w+", own).count(node.name):
                unnamed.append(f"{os.path.relpath(path, REPO)}:{node.name}")
    assert not unnamed, f"engine functions nothing names: {sorted(unnamed)}"


def _code_tokens(path, kinds=("NAME", "OP")):
    """Tokens of a Python file of the given tokenize kinds. The default,
    NAME and OP, is code only, so docstrings and comments do not count."""
    import io
    import tokenize

    tokens = tokenize.generate_tokens(io.StringIO(Path(path).read_text()).readline)
    return [t.string for t in tokens if tokenize.tok_name[t.type] in kinds]


def test_stream_lifecycle_lives_in_streaming_core():
    """One micro-batch driver: under recipes_spark/, only
    streaming/core.py starts an availableNow query or awaits one, and
    it builds the one file-source stream reader. Code tokens only, so
    docstrings and comments may still name them."""
    found = []
    for path in _files_under("recipes_spark", ".py"):
        code = _code_tokens(path)
        rel = os.path.relpath(path, REPO)
        for i, tok in enumerate(code):
            if tok in ("awaitTermination", "readStream") or (
                tok == "availableNow" and code[i + 1:i + 3] == ["=", "True"]
            ):
                found.append((rel, tok))
    core = os.path.join("recipes_spark", "streaming", "core.py")
    assert sorted(found) == [
        (core, "availableNow"), (core, "awaitTermination"), (core, "readStream"),
    ], found


def test_scratch_dirs_come_from_session():
    """One owner for scratch space: under recipes_spark/, only
    session.py makes a temp directory (scratch_dir); every other module
    asks it for one, so each directory is removed with its process's
    scratch root. Code tokens only."""
    found = sorted(
        os.path.relpath(path, REPO)
        for path in _files_under("recipes_spark", ".py")
        if "mkdtemp" in _code_tokens(path)
    )
    assert found == [os.path.join("recipes_spark", "session.py")], found


def test_per_batch_paths_live_in_streaming_core():
    """One state store for the foreachBatch bodies: under
    recipes_spark/streaming/, only core.py formats a per-batch path (an
    f-string holding `{bid` or `{j}`); every body names its generations
    through core's save_gen / read_prior / read_all_prior / read_latest.
    st13's raw bloom bitmaps are the one exception."""
    found = []
    for path in _files_under(os.path.join("recipes_spark", "streaming"), ".py"):
        rel = os.path.relpath(path, REPO)
        if rel == os.path.join("recipes_spark", "streaming", "core.py"):
            continue
        for s in _code_tokens(path, ("STRING",)):
            prefix = s[: len(s) - len(s.lstrip("rRbBuUfF"))]
            if "f" in prefix.lower() and ("{bid" in s or "{j}" in s):
                found.append((rel, s))
    ingest = os.path.join("recipes_spark", "streaming", "ingest.py")
    assert found == [(ingest, 'f"bloom_{j}.bin"')], found


def _unused_imports(path):
    """`<file>:<line> <name>` for each name an import binds in a module
    or function scope that nothing in that scope reads. Imports marked
    `# noqa: F401` (side-effect imports) are exempt, and so are names a
    module lists in __all__."""
    import ast

    text = Path(path).read_text()
    lines = text.splitlines()
    tree = ast.parse(text)
    scopes = [tree] + [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    unused = []
    for scope in scopes:
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        used |= {
            c.value
            for a in ast.walk(scope)
            if isinstance(a, ast.Assign)
            and any(getattr(t, "id", None) == "__all__" for t in a.targets)
            for c in ast.walk(a.value)
            if isinstance(c, ast.Constant)
        }
        # The scope's own statements, into if/try/with blocks but not
        # into nested function or class bodies (their own scopes).
        stack = list(scope.body)
        while stack:
            node = stack.pop()
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            stack.extend(ast.iter_child_nodes(node))
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__":
                continue
            if "noqa: F401" in lines[node.lineno - 1]:
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name != "*" and name not in used:
                    rel = os.path.relpath(path, REPO)
                    unused.append(f"{rel}:{node.lineno} {name}")
    return unused


def test_no_unused_imports():
    """No engine module or function imports a name it never reads. The
    repo runs no linter, so this AST scan stands in for pyflakes' F401
    over recipes_spark/."""
    unused = [
        u
        for path in sorted(_files_under("recipes_spark", ".py"))
        for u in _unused_imports(path)
    ]
    assert not unused, f"unused imports: {unused}"
