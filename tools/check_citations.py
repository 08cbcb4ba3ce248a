#!/usr/bin/env python3
"""Citation integrity gate (dev tool): every reference citation of the form
`<module>.py:N` or `<module>.py:N-M` appearing in src/ must point at a real
file under /root/reference with the cited line range inside the file. Keeps
the file:line discipline honest — a citation that outlives a refactor (or
never existed) fails the gate.

Besides the range check, dumps a content review table to CITATIONS.md: every
citation site next to the first lines of the reference span it points at, so
a citation with a plausible line range but the WRONG claim (the fabricated-
citation class) is auditable by reading one file — the range gate alone
cannot see that.

Usage: python3 tools/check_citations.py  (exit 0 iff all citations resolve;
exit 1 without a table when the reference checkout is missing)
"""
import re, sys
from pathlib import Path

REF = Path("/root/reference")
SRC = Path("/root/repo/src")

# module name -> real path under the reference checkout
FILES = {
    "connections.py": REF / "pyopenetl" / "connections.py",
    "operations.py": REF / "pyopenetl" / "operations.py",
    "pipelines.py": REF / "pyopenetl" / "pipelines.py",
    "setup.py": REF / "setup.py",
    "__init__.py": REF / "pyopenetl" / "__init__.py",
}

CITE = re.compile(
    r"(?:pyopenetl/)?(connections|operations|pipelines|setup|__init__)\.py"
    r":(\d+(?:-\d+)?(?:\s*,\s*\d+(?:-\d+)?)*)")


def main():
    if not all(p.is_file() for p in FILES.values()):
        print(f"reference checkout not found at {REF}")
        sys.exit(1)
    LINES = {m: sum(1 for _ in p.open()) for m, p in FILES.items()}
    bad = []
    n_cites = 0
    review = []  # (scala site, cited span, citing line, source excerpt)
    src_lines = {m: p.read_text().splitlines() for m, p in FILES.items()}
    for f in sorted(SRC.rglob("*.scala")):
        for ln_no, line in enumerate(f.read_text().splitlines(), 1):
            for m in CITE.finditer(line):
                mod = m.group(1) + ".py"
                for span in re.split(r"\s*,\s*", m.group(2)):
                    n_cites += 1
                    parts = span.split("-")
                    lo = int(parts[0])
                    hi = int(parts[1]) if len(parts) > 1 else lo
                    total = LINES[mod]
                    if lo < 1 or hi < lo or hi > total:
                        bad.append(
                            f"{f.relative_to(SRC.parent)}:{ln_no}: "
                            f"{mod}:{span} out of range (file has "
                            f"{total} lines)")
                        continue
                    excerpt = [s.rstrip() for s in
                               src_lines[mod][lo - 1:min(hi, lo + 2)]]
                    review.append((
                        f"{f.relative_to(SRC.parent)}:{ln_no}",
                        f"{mod}:{span}", line.strip(), excerpt))
    out = ["# Citation content review (generated by tools/check_citations.py)",
           "", "Every reference citation in src/, with the claim line beside",
           "the cited source text — read any row to audit the CLAIM, not",
           "just the range. Regenerated by each local_verify run.", ""]
    for site, cite, claim, excerpt in review:
        out.append(f"## `{site}` → `{cite}`")
        out.append(f"- claim: `{claim}`")
        out.append("- source:")
        out.append("  ```python")
        out.extend(f"  {s}" if s else "" for s in excerpt)
        out.append("  ```")
        out.append("")
    Path("/root/repo/CITATIONS.md").write_text("\n".join(out) + "\n")
    for b in bad:
        print("DANGLING", b)
    print(f"{n_cites - len(bad)}/{n_cites} reference citations resolve; "
          f"content table: CITATIONS.md ({len(review)} rows)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
