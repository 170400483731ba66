"""README claims that name a number the code defines must match it. Pure
Python: reads the files, starts no SparkSession."""

import re
from pathlib import Path

from neural_entity_matching_spark.plans import contract

README = Path(__file__).resolve().parent.parent / "README.md"


def test_readme_contract_query_count():
    claims = re.findall(r"(\d+) (?:driver-)?contract quer", README.read_text())
    assert claims, "README no longer states the contract query count"
    assert {int(n) for n in claims} == {len(contract.QUERIES)}
