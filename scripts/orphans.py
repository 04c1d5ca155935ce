#!/usr/bin/env python3
"""List the `src/main` object members that no entrypoint reaches.

Usage: orphans.py [repo_root]

A name-based reachability scan over comment-stripped Scala:

- nodes are top-level objects/classes/traits and the members of objects
  (a class's or trait's body belongs to the class: its methods are
  reached through instances, often polymorphically);
- a node's body references every node whose name it mentions as an
  identifier (string contents count, import lines do not);
- the roots are every `def main`, `SparkEntry.queries` and
  `SparkEntry.oracleSql`, and every name `perfbench/src` mentions;
- reaching a member reaches its enclosing objects, and reaching an
  object reaches its `apply`/`unapply`, `override` and `implicit`
  members (callers never spell those names).

The scan repeats until no new node is reached. Whatever stays unreached
is an orphan. The script prints each one as `file:line Owner.member`
and exits 1 if any is missing from the "Kept without a main caller"
table in COVERAGE.md (each backticked `Owner.member` in its first
column keeps that member and whatever it calls). Name-based means conservative:
a member shares its fate with every same-named member, so a reported
orphan is certainly unreached, while an unreported one may still be
dead.
"""
import os
import re
import sys

DEF_RE = re.compile(
    r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|"
    r"implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+)*)"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
IDENT_RE = re.compile(r"[A-Za-z_]\w*")


def strip_comments(src):
    """Blank out // and (nested) /* */ comments, keeping strings and
    newlines. Returns the stripped text and, per line, whether the line
    starts inside a string literal."""
    out, in_str_at_line = [], [False]
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            chunk = src[i:j]
            out.append(chunk)
            in_str_at_line.extend([True] * chunk.count("\n"))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            chunk = src[i:j]
            out.append(re.sub(r"[^\n]", " ", chunk))
            in_str_at_line.extend([False] * chunk.count("\n"))
            i = j
        else:
            if c == "\n":
                in_str_at_line.append(False)
            out.append(c)
            i += 1
    return "".join(out), in_str_at_line


class Node:
    def __init__(self, path, line, kind, name, mods, parent):
        self.path, self.line, self.kind, self.name = path, line, kind, name
        self.mods, self.parent = mods, parent
        self.refs = set()

    @property
    def owner(self):
        p, names = self.parent, []
        while p is not None:
            names.append(p.name)
            p = p.parent
        return ".".join(reversed(names))

    @property
    def qualified(self):
        return f"{self.owner}.{self.name}" if self.owner else self.name


def scan_file(path, rel, nodes):
    with open(path, encoding="utf-8") as f:
        text, in_str = strip_comments(f.read())
    stack = []  # (indent, kind, node or None)

    def owner_node():
        for _, _, node in reversed(stack):
            if node is not None:
                return node
        return None

    for lineno, line in enumerate(text.split("\n"), 1):
        stripped = line.strip()
        if not stripped or (lineno - 1 < len(in_str) and in_str[lineno - 1]):
            node = owner_node()
            if node is not None:
                node.refs.update(IDENT_RE.findall(line))
            continue
        indent = len(line) - len(line.lstrip())
        m = DEF_RE.match(line)
        if m:
            while stack and stack[-1][0] >= indent:
                stack.pop()
            kind, name, mods = m.group(3), m.group(4), m.group(2)
            parent = stack[-1] if stack else None
            is_node = parent is None or parent[1] == "object"
            if is_node:
                pnode = owner_node()
                node = Node(rel, lineno, kind, name, mods, pnode)
                nodes.append(node)
                stack.append((indent, kind, node))
            else:
                stack.append((indent, kind, None))
            node = owner_node()
            if node is not None:
                node.refs.update(IDENT_RE.findall(line[m.end():]))
            continue
        while stack and stack[-1][0] > indent:
            stack.pop()
        if stripped.startswith(("import ", "package ")):
            continue
        node = owner_node()
        if node is not None:
            node.refs.update(IDENT_RE.findall(line))


def scala_files(root, sub):
    for dirpath, _, files in os.walk(os.path.join(root, sub)):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def reach(nodes, extra_roots, root_nodes=()):
    by_name = {}
    for node in nodes:
        by_name.setdefault(node.name, []).append(node)
    children = {}
    for node in nodes:
        children.setdefault(node.parent, []).append(node)
    reached, frontier = set(), []

    def visit(node):
        while node is not None and node not in reached:
            reached.add(node)
            frontier.append(node)
            node = node.parent

    for node in nodes:
        if node.name == "main" and node.kind == "def":
            visit(node)
        if node.owner == "SparkEntry" and node.name in ("queries", "oracleSql"):
            visit(node)
    for name in extra_roots:
        for node in by_name.get(name, []):
            visit(node)
    for node in root_nodes:
        visit(node)
    while frontier:
        node = frontier.pop()
        if node.kind == "object":
            for child in children.get(node, []):
                if (child.name in ("apply", "unapply") or "override" in child.mods
                        or "implicit" in child.mods):
                    visit(child)
        for name in node.refs - {node.name}:
            for target in by_name.get(name, []):
                visit(target)
    return reached


def keep_names(coverage_path):
    names, in_table = [], False
    with open(coverage_path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("#"):
                in_table = "kept without a main caller" in line.lower()
            elif in_table and line.startswith("|"):
                first = line.split("|")[1]
                names.extend(re.findall(r"`([^`]+)`", first))
    return names


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    nodes = []
    for path in scala_files(root, "src/main"):
        scan_file(path, os.path.relpath(path, root), nodes)
    perf_names = set()
    for path in scala_files(root, "perfbench/src"):
        with open(path, encoding="utf-8") as f:
            text, _ = strip_comments(f.read())
        for line in text.split("\n"):
            if not line.strip().startswith(("import ", "package ")):
                perf_names.update(IDENT_RE.findall(line))
    reached = reach(nodes, perf_names)
    keep = set(keep_names(os.path.join(root, "COVERAGE.md")))
    kept = [n for n in nodes if n.qualified in keep]
    # a kept member keeps what it calls: reach again with the keep table as roots
    covered = reach(nodes, perf_names, kept)
    parents = {n.parent for n in nodes}
    # an object that holds members is reported through them
    orphans = [n for n in nodes if n not in reached and n not in parents]
    missing = [n for n in orphans if n not in covered]
    for n in orphans:
        tag = ("" if n in kept else "  (reached from a kept member)"
               if n in covered else "  (not in keep table)")
        print(f"{n.path}:{n.line} {n.qualified}{tag}")
    for name in keep - {n.qualified for n in nodes if n not in reached}:
        print(f"note: keep-table entry `{name}` is not an orphan", file=sys.stderr)
    print(f"{len(orphans)} orphans, {len(missing)} not in COVERAGE.md's keep table",
          file=sys.stderr)
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
