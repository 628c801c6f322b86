#!/usr/bin/env python3
"""Registry-reachability scan: main code that only the specs reach.

Usage: tools/reach.py        (from anywhere; exit 0 = nothing unexplained)

Tokenises src/main's Scala and every other file under tools/ and
perfbench/ (comments stripped, string literals kept) and lists every
public def/val/var/object/class/trait name defined in src/main that no
main token other than its own definitions references, yet src/test
does. A name in ALLOW is kept on purpose and carries its reason; any
other listed name, or an ALLOW entry that main code now reaches (or
that is gone), fails the scan. The scan is lexical and one level deep:
one name defined in two objects counts as one, and code that only
other spec-only code calls shows up once that caller is deleted.
"""
import glob, os, re, sys
from collections import Counter

ALLOW = {
    "counted": "Jobs.counted: the block-scoped form of the job counter Inspect --time prints; specs pin job budgets with it",
    "writePartitioned": "the hive-layout writer readPartitioned's pruning contract is stated for (SourcesSpec); q92 fragments that layout inline",
    "sessionizeStream": "the readStream leg of q71's sessionizer (q71 runs its batch form); the streaming specs pin batch = stream",
    "sinkPartitioned": "q72's Structured Streaming sink: lands the deduped survivor stream through writeBatch",
    "sinkCommitted": "the Structured Streaming writer of the watermark-committed store that q254 builds in batch",
    "vacuumCommitted": "the only space reclamation for compactCommitted; CommittedCompactionSpec pins its keep-window",
    "withCacheScope": "CacheScope's scoped-release entry point for library callers",
    "releaseAll": "CacheScope's session-wide sweep for callers outside a scope; the differential specs reset caches with it",
    "withShingles": "reference form DedupSpec checks the fused MinHash kernel against",
    "withMinHash": "reference form DedupSpec checks the fused MinHash kernel against",
    "jaccardVerify": "reference form DedupSpec checks the in-place Jaccard verify against",
}

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
LEX = re.compile(r'"""[\s\S]*?"""|\'(?:\\.|[^\'\\\n])\'|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*[\s\S]*?\*/')
DEF = re.compile(r'^(?P<mods>[ \t]*(?:[\w\[\]]+[ \t]+)*?)(?:case\s+)?(?:def|val|var|object|class|trait)\s+(?P<name>[A-Za-z_]\w*)', re.M)
TOK = re.compile(r'[A-Za-z_]\w*')


def code(*patterns):
    for pat in patterns:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(f) and not f.endswith("reach.py") and "__pycache__" not in f:
                yield LEX.sub(lambda m: m.group(0) if m.group(0)[0] in "\"'" else " ", open(f).read())


defs = Counter(m["name"] for src in code("src/main/**/*.scala") for m in DEF.finditer(src)
               if not re.search(r"\b(private|protected|override|implicit)\b", m["mods"]))
main_refs = Counter(t for src in code("src/main/**/*.scala", "tools/**/*", "perfbench/**/*") for t in TOK.findall(src))
test_refs = Counter(t for src in code("src/test/**/*.scala") for t in TOK.findall(src))
spec_only = sorted(n for n in defs if main_refs[n] <= defs[n] and test_refs[n] > 0)
for n in spec_only:
    print(f"kept {n}: {ALLOW[n]}" if n in ALLOW else f"SPEC-ONLY {n}")
stale = sorted(set(ALLOW) - set(spec_only))
for n in stale:
    print(f"STALE {n}: main code reaches it, or it is gone; drop it from ALLOW")
sys.exit(1 if stale or any(n not in ALLOW for n in spec_only) else 0)
