"""Staleness sweep: which registered queries changed AFTER their only
driver CORRECTNESS row?

The driver checks each name once (50-name rotation windows); if the
implementation is re-spelled in a LATER round, the hard driver signal is
stale even though local sweeps stay green. This tool rebuilds, for every
name in the registry, (a) the latest round with a green/weak-clean
driver row and (b) whether the @query-decorated function's source text
differs between HEAD and the code state that round's row was computed
against (the parent of the `round N:` artifact commit).

Output: one line per stale name, oldest driver row first —
    <name>  row=r<N>  module=<module>  reason=<changed|missing_then>
"""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_arcgis_spark import registry  # noqa: E402


def round_rows() -> dict[str, int]:
    """name -> latest round whose driver row ran clean for that name."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        with open(path) as fh:
            rows = json.load(fh)
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            err = r.get("err")
            ok = (err is None and r.get("hash_match")) or (
                err == "no_oracle" and r.get("spark_rows") is not None
            )
            if ok:
                latest[name] = rnd
    return latest


def round_commits() -> dict[int, str]:
    """round -> commit hash of the code state its driver row ran on
    (parent of the `round N: verdict/...` artifact commit)."""
    out = subprocess.run(
        ["git", "log", "--format=%H %s"], cwd=REPO, capture_output=True, text=True
    ).stdout
    commits: dict[int, str] = {}
    for line in out.splitlines():
        h, _, subj = line.partition(" ")
        if subj.startswith("round ") and ":" in subj:
            try:
                rnd = int(subj.split(":")[0].split()[1])
            except (ValueError, IndexError):
                continue
            # git log is newest-first: keep only the NEWEST artifact
            # commit per round (ADVICE r8) — a round with multiple
            # artifact commits must anchor on the latest one, else
            # queries touched between them misclassify as stale/fresh.
            if rnd not in commits:
                commits[rnd] = h + "^"  # parent = last builder commit
    return commits


def fn_source(file_text: str, qname: str) -> str | None:
    """Source of the def whose decorators include query("qname", ...).

    Matches on the registered NAME (not the function name) so renames
    of the def itself also count as a change only if the body moved.
    """
    try:
        tree = ast.parse(file_text)
    except SyntaxError:
        return None
    for node in ast.walk(tree):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for dec in node.decorator_list:
            if (
                isinstance(dec, ast.Call)
                and dec.args
                and isinstance(dec.args[0], ast.Constant)
                and dec.args[0].value == qname
            ):
                return ast.get_source_segment(file_text, node)
    return None


def main() -> None:
    registry.load_all()
    rows = round_rows()
    commits = round_commits()
    this_round = max(commits) + 1 if commits else 1

    # Cache old file blobs per (round, relpath).
    blob_cache: dict[tuple[int, str], str | None] = {}

    def old_text(rnd: int, rel: str) -> str | None:
        key = (rnd, rel)
        if key not in blob_cache:
            p = subprocess.run(
                ["git", "show", f"{commits[rnd]}:{rel}"],
                cwd=REPO,
                capture_output=True,
                text=True,
            )
            blob_cache[key] = p.stdout if p.returncode == 0 else None
        return blob_cache[key]

    stale: list[tuple[int, str, str, str]] = []
    for name, fn in registry.QUERIES.items():
        rnd = rows.get(name)
        if rnd is None:
            stale.append((0, name, registry.MODULE_OF[name], "never_checked"))
            continue
        if rnd not in commits:
            continue  # row from the in-flight round; nothing newer exists
        rel = os.path.relpath(fn.__code__.co_filename, REPO)
        with open(os.path.join(REPO, rel)) as fh:
            now_text = fh.read()
        now_src = fn_source(now_text, name)
        then_text = old_text(rnd, rel)
        then_src = fn_source(then_text, name) if then_text is not None else None
        if then_src is None:
            stale.append((rnd, name, registry.MODULE_OF[name], "missing_then"))
        elif now_src is not None and now_src.strip() != then_src.strip():
            stale.append((rnd, name, registry.MODULE_OF[name], "changed"))

    stale.sort(key=lambda t: (t[0], t[1]))
    for rnd, name, mod, why in stale:
        print(f"{name}  row=r{rnd}  module={mod}  reason={why}")
    print(f"# {len(stale)} stale of {len(registry.QUERIES)} (this_round=r{this_round})",
          file=sys.stderr)


if __name__ == "__main__":
    main()
