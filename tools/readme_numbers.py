"""Generate README's artifact-numbers block FROM committed artifacts
that no bench run rewrites (VERDICT r13 #2: round 12 and round 13 each
shipped README sentences citing superseded mid-round figures; deriving
the cited numbers mechanically removes the failure mode).

Sources: the committed per-round suite artifacts of round ``ROUND`` —
``BENCH_r<ROUND>.json`` (local[32]) and ``BENCH_r<ROUND>_c8.json``
(local[8]) — plus ``SCALECHECK.json``. ``bench.py`` rewrites
``BENCH_FULL.json`` / ``BENCH_REVERSED.json`` on every run, so the
block must not read those. When a new round's artifacts land, bump
``ROUND`` and run ``--write``.

The block is delimited in README.md by
``<!-- AUTOGEN:artifact-numbers -->`` / ``<!-- /AUTOGEN... -->``
markers. ``python tools/readme_numbers.py`` prints the current block;
``--write`` splices it into README.md in place.
tests/test_docs_numbers.py regenerates the block and diffs it against
the README — a stale number fails the suite instead of shipping.
"""
from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- AUTOGEN:artifact-numbers (tools/readme_numbers.py) -->"
END = "<!-- /AUTOGEN:artifact-numbers -->"
ROUND = 15
SOURCES = (f"BENCH_r{ROUND}.json", f"BENCH_r{ROUND}_c8.json", "SCALECHECK.json")


def _load(name: str) -> dict:
    with open(os.path.join(ROOT, name)) as f:
        return json.load(f)


def generate() -> str:
    b32 = _load(SOURCES[0])["parsed"]
    b8 = _load(SOURCES[1])["parsed"]
    sc = _load(SOURCES[2])
    q32, q8 = b32["queries"], b8["queries"]
    shared = [n for n in q32 if n in q8 and min(q32[n], q8[n]) > 0]
    faster8 = sum(1 for n in shared if q8[n] < q32[n])
    worst = max(shared, key=lambda n: max(q32[n], q8[n]) / min(q32[n], q8[n]))
    wr = max(q32[worst], q8[worst]) / min(q32[worst], q8[worst])
    lc32, lc8 = q32["ivf_pq_lifecycle_ann"], q8["ivf_pq_lifecycle_ann"]
    resid = sc.get("scrub_residue", {})
    nonzero = {k: v for k, v in resid.items() if v}
    resid_line = (
        "all sections zero"
        if not nonzero
        else ", ".join(f"{k}={v}" for k, v in sorted(nonzero.items()))
    )
    e32, e8 = b32["extra"], b8["extra"]
    lines = [
        BEGIN,
        f"Round-{ROUND} bench artifacts ({SOURCES[0]} on local[32],",
        f"{SOURCES[1]} on local[8], sf{b32['sf']}) and {SOURCES[2]};",
        "regenerate with `python tools/readme_numbers.py --write`;",
        "enforced by tests/test_docs_numbers.py:",
        "",
        f"- Suite: {e32['n_queries']} query rows, {b32['value']:.1f} s on 32 "
        f"cores / {b8['value']:.1f} s on 8 cores.",
        f"- HNSW dim-512 build: {e32['build512_vecs_per_sec_per_core']} "
        f"vec/s/core on 32 cores, {e8['build512_vecs_per_sec_per_core']} "
        f"on 8; recall@10 = {e32['hnsw_recall_at_10']}.",
        f"- `ivf_pq_lifecycle_ann`: {lc32} s on 32 cores / {lc8} s on 8.",
        f"- Headline rows faster on 8 cores than on 32: {faster8} of "
        f"{len(shared)}; largest 32/8 ratio `{worst}` "
        f"({q32[worst]} / {q8[worst]}, {wr:.2f}x).",
        f"- SCALECHECK `scrub_residue` ledger: {resid_line}.",
        END,
    ]
    return "\n".join(lines)


def main() -> None:
    block = generate()
    if "--write" in sys.argv:
        path = os.path.join(ROOT, "README.md")
        with open(path) as f:
            text = f.read()
        if BEGIN in text:
            pre = text.split(BEGIN)[0]
            post = text.split(END, 1)[1]
            text = pre + block + post
        else:
            raise SystemExit(
                "README.md has no artifact-numbers markers; add them first"
            )
        with open(path, "w") as f:
            f.write(text)
        print("README.md updated")
    else:
        print(block)


if __name__ == "__main__":
    main()
