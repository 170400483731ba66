"""README claims that name a number the code defines must match it, the
committed deployment zip must match the package source, and COVERAGE's
symbol references must name what the package defines. Pure Python: reads
the files, starts no SparkSession."""

import importlib
import re
import zipfile
from pathlib import Path

from neural_entity_matching_spark.plans import contract

ROOT = Path(__file__).resolve().parent.parent
README = ROOT / "README.md"


def test_readme_contract_query_count():
    claims = re.findall(r"(\d+) (?:driver-)?contract quer", README.read_text())
    assert claims, "README no longer states the contract query count"
    assert {int(n) for n in claims} == {len(contract.QUERIES)}


def test_dist_zip_matches_package():
    """dist/nem.zip, the ``spark-submit --py-files`` artifact, holds
    exactly the package's .py files, byte for byte."""
    with zipfile.ZipFile(ROOT / "dist" / "nem.zip") as z:
        zipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    files = {p.relative_to(ROOT).as_posix(): p.read_bytes()
             for p in (ROOT / "neural_entity_matching_spark").rglob("*.py")}
    assert sorted(zipped) == sorted(files)
    for name, data in files.items():
        assert zipped[name] == data, f"{name} is stale in dist/nem.zip"


def _readme_section(title):
    text = README.read_text()
    start = text.index(f"## {title}\n")
    end = text.find("\n## ", start + 1)
    return text[start:end if end != -1 else None]


_PATH = re.compile(r"^[\w.-]+(?:/[\w.-]*)*$")


def _is_path(token):
    return bool(_PATH.match(token)) and (
        token.endswith("/") or re.search(r"\.\w+$", token) is not None)


def test_readme_paths_exist():
    """Every repo path named in README's Layout block and Verification
    list exists. Layout entries nest by indentation under the directory
    line above them; description continuation lines are not paths."""
    layout = _readme_section("Layout").split("```")[1]
    named = []
    stack: list[tuple[int, Path]] = []
    for line in layout.splitlines():
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip())
        token = line.split()[0]
        if not _is_path(token):
            continue
        while stack and stack[-1][0] >= indent:
            stack.pop()
        path = (stack[-1][1] if stack else ROOT) / token
        named.append(path)
        if token.endswith("/"):
            stack.append((indent, path))
    for span in re.findall(r"`([^`]+)`", _readme_section("Verification")):
        named += [ROOT / t for t in span.split() if _is_path(t)]
    assert len(named) > 20, "README path parse found too few entries"
    missing = [p.relative_to(ROOT).as_posix() for p in named if not p.exists()]
    assert not missing, f"README names missing paths: {missing}"


def test_coverage_symbols_resolve():
    """Every `module.name` in COVERAGE.md whose module is a package module
    (by file name, optionally behind its directory, as in
    `operators/dedup.exact_dedup`) names an attribute of that module.
    ``.py`` file names and non-package modules (`np.unique`) are
    skipped."""
    pkg = ROOT / "neural_entity_matching_spark"
    modules = {p.relative_to(ROOT).with_suffix("").as_posix(): p
               for p in pkg.rglob("*.py") if p.stem != "__init__"}
    refs = []
    for span in re.findall(r"`([^`]+)`", (ROOT / "COVERAGE.md").read_text()):
        for path, name in re.findall(r"(?<![\w./])((?:\w+/)*\w+)\.(\w+)",
                                     span):
            found = [m for m in modules if m.endswith("/" + path)]
            if name != "py" and found:
                assert len(found) == 1, f"{path} names several modules"
                refs.append((found[0].replace("/", "."), name))
    assert len(refs) > 40, "COVERAGE symbol parse found too few references"
    stale = [f"{mod}.{name}" for mod, name in refs
             if not hasattr(importlib.import_module(mod), name)]
    assert not stale, f"COVERAGE.md names missing symbols: {stale}"
