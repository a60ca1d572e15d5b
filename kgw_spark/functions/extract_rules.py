"""Mention-extraction rules for source-code content.

These regex rules are THE contract of the extraction stage: the Spark
pipeline (vectorized, ``pandas.Series.str.extractall``) and the
reference-semantics oracle (plain pandas, ``re.findall``) both derive
from this single table, and the synthetic corpus generator plants
mentions that these rules recover exactly (enabling exact P/R scoring
against BASELINE.md's P/R ≥ 0.95 target).

Reference analog: the per-format row→(s,p,o) mappers in each kgw
adapter (e.g. kgw/biomedicine/_monarchkg.py:124-179,
kgw/biomedicine/_oregano.py:188-245) — re-targeted from biomedical
dump formats to source code, per the north rule.

Rule shape: (pred, pattern, subj_template, obj_template). Patterns are
applied with re.MULTILINE per file. Templates: "FILE" means the file
entity id; "{1}"/"{2}" substitute capture groups into an entity id.
"""

from __future__ import annotations

import re

# fmt: off
RULES: dict[str, list[tuple[str, str, str, str]]] = {
    "python": [
        ("imports",       r"^import\s+([A-Za-z_]\w*)",                      "FILE",        "module:{1}"),
        ("imports",       r"^from\s+([A-Za-z_]\w*)\s+import",               "FILE",        "module:{1}"),
        ("defined_in",    r"^class\s+([A-Za-z_]\w*)",                       "class:{1}",   "FILE"),
        ("extends",       r"^class\s+([A-Za-z_]\w*)\(([A-Za-z_]\w*)\)",     "class:{1}",   "class:{2}"),
        ("defined_in",    r"^def\s+([A-Za-z_]\w*)",                         "func:{1}",    "FILE"),
        ("calls",         r"^[ \t]+([A-Za-z_]\w*)\(",                       "FILE",        "func:{1}"),
    ],
    "java": [
        ("imports",       r"^import\s+([A-Za-z_][\w.]*);",                  "FILE",        "module:{1}"),
        ("defined_in",    r"^public\s+class\s+([A-Za-z_]\w*)",              "class:{1}",   "FILE"),
        ("extends",       r"^public\s+class\s+([A-Za-z_]\w*)\s+extends\s+([A-Za-z_]\w*)", "class:{1}", "class:{2}"),
        ("calls",         r"^[ \t]+([A-Za-z_]\w*)\(",                       "FILE",        "func:{1}"),
    ],
    "go": [
        ("imports",       r"^import\s+\"([\w/.\-]+)\"",                     "FILE",        "module:{1}"),
        ("defined_in",    r"^func\s+([A-Za-z_]\w*)",                        "func:{1}",    "FILE"),
        ("calls",         r"^[ \t]+([A-Za-z_]\w*)\(",                       "FILE",        "func:{1}"),
    ],
}
# fmt: on

COMPILED: dict[str, list[tuple[str, re.Pattern, str, str]]] = {
    lang: [(pred, re.compile(pat, re.MULTILINE), s, o) for pred, pat, s, o in rules]
    for lang, rules in RULES.items()
}


def file_id(repo: str, path: str) -> str:
    return f"file:{repo}/{path}"
