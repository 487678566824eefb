#!/usr/bin/env python3
"""Line counts for the main sources: physical lines and code lines.

Code lines exclude blank lines, `//` comment lines and the lines of
`/* ... */` (and `/** ... */`) comment blocks, so deleting a comment
never reads as a code reduction.

    python3 dev/loc.py              # totals for src/main
    python3 dev/loc.py --files      # per-file counts, then totals
    python3 dev/loc.py DIR...       # other roots (e.g. src/test)
"""
import os
import sys


def count(path):
    physical = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            physical += 1
            s = line.strip()
            while s:
                if in_block:
                    end = s.find("*/")
                    if end < 0:
                        s = ""
                    else:
                        in_block = False
                        s = s[end + 2:].strip()
                elif s.startswith("/*"):
                    in_block = True
                    s = s[2:]
                else:
                    break
            if s and not s.startswith("//"):
                code += 1
    return physical, code


def main(argv):
    show_files = "--files" in argv
    roots = [a for a in argv if not a.startswith("--")] or ["src/main"]
    here = os.path.dirname(os.path.abspath(__file__))
    total_phys = total_code = 0
    for root in roots:
        if not os.path.isabs(root):
            root = os.path.join(here, "..", root)
        for d, _, names in sorted(os.walk(root)):
            for n in sorted(names):
                if not n.endswith((".scala", ".java")):
                    continue
                p = os.path.join(d, n)
                phys, code = count(p)
                total_phys += phys
                total_code += code
                if show_files:
                    print(f"{phys:7d} {code:7d}  {os.path.relpath(p, os.path.join(here, '..'))}")
    print(f"physical {total_phys}  code {total_code}")


if __name__ == "__main__":
    main(sys.argv[1:])
