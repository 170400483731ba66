"""README claims that name a number the code defines must match it, and
the committed deployment zip must match the package source. Pure Python:
reads the files, starts no SparkSession."""

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
