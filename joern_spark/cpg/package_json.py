"""DependenciesPass: DEPENDENCY nodes from package.json / package-lock.json.

Behavioral port of the reference's
jssrc2cpg/src/main/.../passes/DependenciesPass.scala and
utils/PackageJsonParser.scala:

- ``package-lock.json`` wins when present and non-empty; its
  ``dependencies`` values are either version strings or objects with a
  ``version`` field (PackageJsonParser.scala:46-62).
- Otherwise ``package.json``'s four dependency tables are merged in order:
  dependencies, devDependencies, peerDependencies, optionalDependencies
  (:20-21, :66-79).
- ``isValidProjectPackageJson`` (:26-37): must be named package.json, have
  no blank-only lines, and yield at least one dependency.

Corpus-scale note: like ConfigPass this is driver-side metadata work over
a handful of project files, not per-page work — it never enters the
mapInArrow build path.
"""

from __future__ import annotations

import json
import os

from joern_spark.cpg.core import Cpg, Node

PACKAGE_JSON_FILENAME = "package.json"
PACKAGE_JSON_LOCK_FILENAME = "package-lock.json"
NODE_MODULES_FOLDER = "node_modules"

_PROJECT_DEPENDENCIES = (
    "dependencies", "devDependencies", "peerDependencies",
    "optionalDependencies",
)


def _lock_dependencies(content: str) -> "dict[str, str] | None":
    """PackageJsonParser.scala:46-62 (lockDeps)."""
    try:
        obj = json.loads(content)
    except (ValueError, TypeError):
        return None
    deps = obj.get("dependencies", {}) if isinstance(obj, dict) else {}
    out: dict[str, str] = {}
    for name, value in deps.items():
        if isinstance(value, str):
            out[name] = value
        elif isinstance(value, dict) and "version" in value:
            out[name] = str(value["version"])
    return out


def _plain_dependencies(content: str) -> "dict[str, str] | None":
    """PackageJsonParser.scala:66-79 (deps)."""
    try:
        obj = json.loads(content)
    except (ValueError, TypeError):
        return None
    if not isinstance(obj, dict):
        return None
    out: dict[str, str] = {}
    for table in _PROJECT_DEPENDENCIES:
        for name, value in obj.get(table, {}).items():
            out[name] = str(value)
    return out


def package_dependencies(json_path: str) -> "dict[str, str]":
    """PackageJsonParser.dependencies: the sibling lock file wins when it
    parses non-empty; else the package.json tables; else {}."""
    lock_path = os.path.join(os.path.dirname(json_path),
                             PACKAGE_JSON_LOCK_FILENAME)
    lock = None
    if os.path.isfile(lock_path):
        with open(lock_path, encoding="utf-8", errors="replace") as f:
            lock = _lock_dependencies(f.read())
    if lock:
        return lock
    deps = None
    if os.path.isfile(json_path):
        with open(json_path, encoding="utf-8", errors="replace") as f:
            deps = _plain_dependencies(f.read())
    return deps or {}


def is_valid_project_package_json(json_path: str) -> bool:
    """PackageJsonParser.isValidProjectPackageJson (:26-37)."""
    if not str(json_path).endswith(PACKAGE_JSON_FILENAME):
        return False
    try:
        with open(json_path, encoding="utf-8", errors="replace") as f:
            content = f.read()
    except OSError:
        return False
    lines = content.splitlines() or [""]
    if not all(line.strip() for line in lines):
        return False
    return bool(package_dependencies(json_path))


def run_dependencies_pass(cpg: Cpg, input_path: str) -> "list[Node]":
    """DependenciesPass.run: every package.json / package-lock.json outside
    node_modules contributes (name, version) DEPENDENCY nodes."""
    merged: dict[str, str] = {}
    for root, dirs, files in os.walk(input_path):
        dirs[:] = [d for d in dirs if d != NODE_MODULES_FOLDER]
        for fname in sorted(files):
            if fname not in (PACKAGE_JSON_FILENAME,
                             PACKAGE_JSON_LOCK_FILENAME):
                continue
            path = os.path.join(root, fname)
            if fname == PACKAGE_JSON_LOCK_FILENAME:
                with open(path, encoding="utf-8", errors="replace") as f:
                    merged.update(_lock_dependencies(f.read()) or {})
            else:
                merged.update(package_dependencies(path))
    out = []
    for name, version in merged.items():
        dep = Node("DEPENDENCY", name=name, version=version)
        cpg.add_node(dep)
        out.append(dep)
    return out
