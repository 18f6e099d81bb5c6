#!/usr/bin/env python3
"""Verify every reference citation resolves to a real file.

Scans SURVEY.md / PLANS.md / BASELINE.md / README.md / src for
`path/to/file.ext[:line]` patterns and stats each path under the
reference tree beside this checkout (`reference/` in the checkout's
parent directory). Exits non-zero listing phantoms (the r9 verdict found
a fabricated api/routes/search.js citation; this keeps it impossible).

Known false positives are skipped: repo-internal paths and extension
truncation artifacts (e.g. BASELINE.json matching as .js).

Exit status: 0 all resolve; 1 phantom citations or unresolved doc claims;
2 the reference tree itself is absent, so no citation can be checked
(reported as one line, not as one PHANTOM per citation).
"""
import re, os, sys, subprocess

REFERENCE = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "reference")

PAT = re.compile(
    r"([A-Za-z0-9_\-./]+\.(?:json|jsonl|yaml|yml|js|sql|go|rs|cpp|ts|py))"
    r"(?::\d+)?")
SKIP_TOP = {"src", "graft", "target", "tools", "project", "tmp", "opt",
            "root", "outDir"}

def main():
    if not os.path.isdir(REFERENCE):
        print(f"REFERENCE-ABSENT {REFERENCE} does not exist: citations "
              f"cannot be checked")
        claims = check_doc_claims()
        sys.exit(1 if claims else 2)
    files = subprocess.run(
        ["grep", "-rl", ".", "SURVEY.md", "PLANS.md", "BASELINE.md",
         "README.md", "src"],
        capture_output=True, text=True).stdout.split()
    bad = {}
    for f in files:
        try:
            txt = open(f, errors="replace").read()
        except OSError:
            continue
        for ln_no, line in enumerate(txt.splitlines(), 1):
            for m in PAT.finditer(line):
                path = m.group(1)
                if "/" not in path or path.split("/")[0] in SKIP_TOP:
                    continue
                full = path if path.startswith("/root/") else \
                    os.path.join(REFERENCE, path.lstrip("/"))
                if not os.path.exists(full):
                    bad.setdefault(path, []).append(f"{f}:{ln_no}")
    for path, sites in sorted(bad.items()):
        print(f"PHANTOM {path} <- {', '.join(sites[:5])}"
              f"{' ...' if len(sites) > 5 else ''}")
    print(f"{len(bad)} phantom path(s)")
    claims = check_doc_claims()
    sys.exit(1 if bad or claims else 0)


# ---------------------------------------------------------------------------
# Doc-claim resolution (added r13, closing the r11/r12 failure class where
# SURVEY/FIXTURES documented queries or Tables members that did not exist):
# every `q:NAME` token in SURVEY.md and every `Tables.NAME` mention in
# SURVEY.md/FIXTURES.md must resolve to a real definition in src/main —
# a "done" row naming phantom code fails the gate.
# ---------------------------------------------------------------------------

def _src_text():
    out = []
    for root, _, names in os.walk("src/main/scala"):
        for n in names:
            if n.endswith(".scala"):
                out.append(open(os.path.join(root, n),
                                errors="replace").read())
    return "\n".join(out)


def check_doc_claims():
    src = _src_text()
    # query keys are string-literal map keys: "name" ->
    defined_q = set(re.findall(r'"([a-z][a-z0-9_]+)"\s*->', src))
    tables_src = open("src/main/scala/graft/Tables.scala",
                      errors="replace").read()
    defined_members = set(re.findall(r"\b(?:def|val)\s+(\w+)", tables_src))
    bad = []
    for doc in ("SURVEY.md", "FIXTURES.md"):
        try:
            txt = open(doc, errors="replace").read()
        except OSError:
            continue
        for ln_no, line in enumerate(txt.splitlines(), 1):
            for name in re.findall(r"\bq:([a-z][a-z0-9_]+)", line):
                # SURVEY shorthand: `q:p1` abbreviates `p1_project_rename`
                # (and `q:p1..p6` a range) — a claim resolves if it IS a
                # key or is the id-prefix of one
                if name not in defined_q and not any(
                        k.startswith(name + "_") for k in defined_q):
                    bad.append(f"{doc}:{ln_no} claims q:{name} "
                               f"(not in any queries map)")
            for mem in re.findall(r"\bTables\.(\w+)", line):
                if mem not in defined_members:
                    bad.append(f"{doc}:{ln_no} claims Tables.{mem} "
                               f"(no such def/val)")
    for b in bad:
        print("UNRESOLVED-CLAIM " + b)
    print(f"{len(bad)} unresolved doc claim(s)")
    return bad


if __name__ == "__main__":
    main()
