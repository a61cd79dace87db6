"""README's cited artifact numbers must match the committed artifacts
(VERDICT r12 + r13 both flagged prose citing superseded mid-round
figures). The artifact-numbers block is GENERATED by
tools/readme_numbers.py from the pinned per-round artifacts; this
test regenerates it and diffs — bumping the pinned round without a
README regen fails the suite instead of shipping a stale claim. The
sources must be files bench.py never writes, or every bench run would
turn this test red. No Spark session needed."""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))


def test_readme_artifact_block_is_current():
    import readme_numbers as rn

    with open(os.path.join(ROOT, "README.md")) as f:
        text = f.read()
    assert rn.BEGIN in text and rn.END in text, (
        "README.md lost its artifact-numbers markers"
    )
    in_readme = text.split(rn.BEGIN)[1].split(rn.END)[0]
    generated = rn.generate().split(rn.BEGIN)[1].split(rn.END)[0]
    assert in_readme.strip() == generated.strip(), (
        "README artifact-numbers block is stale — run "
        "`python tools/readme_numbers.py --write` after changing the "
        "pinned round or refreshing SCALECHECK.json"
    )


def test_readme_block_reads_no_bench_output():
    import readme_numbers as rn

    with open(os.path.join(ROOT, "bench.py")) as f:
        written = set(re.findall(r'"(BENCH_[A-Za-z0-9_]+\.json)"', f.read()))
    assert {"BENCH_FULL.json", "BENCH_REVERSED.json"} <= written
    assert not written & set(rn.SOURCES), written & set(rn.SOURCES)
    for name in rn.SOURCES:
        assert os.path.exists(os.path.join(ROOT, name)), name
