#!/usr/bin/env python3
"""Compare the shape of two graft.Bench artifacts, ignoring their values.

Two artifacts have the same shape when they hold the same key paths,
every object lists its keys in the same order, and every field renders
its numbers in the same format: integers, a fixed number of decimal
places (`BenchCore.jnum`), or Java's `Double.toString` (shortest form:
no trailing zeros past `.0`, or `d.dddE±n`). A field is a key path with
array positions and query names (`q<digits>_...`) folded, so every
query's `cpu_passes` entries count as one field.

A field whose literals fit more than one format on both sides (one
value `0.573` could be `%.3f` or `Double.toString`) passes when the two
sides share a format.

Usage: python3 tools/bench_shape.py A.json B.json
Exits 0 on the same shape, 1 (listing every difference) otherwise.
"""
import json
import re
import sys
from collections import defaultdict

INT = re.compile(r"-?\d+")
FIXED = re.compile(r"-?\d+\.(\d+)")
SHORTEST = re.compile(r"-?\d+\.(0|\d*[1-9])|-?\d\.\d+E-?\d+")
QUERY = re.compile(r"q\d+_\w+")


class Num(str):
    """A number literal, kept as written."""


class Obj(list):
    """A JSON object: its (key, value) pairs in document order."""


def load(path):
    with open(path) as f:
        return json.load(f, object_pairs_hook=Obj,
                         parse_float=Num, parse_int=Num)


def walk(node, path, objects, fields):
    if isinstance(node, Obj):
        objects.append(("/".join(path), [k for k, _ in node]))
        for k, v in node:
            walk(v, path + (k,), objects, fields)
    elif isinstance(node, list):
        for v in node:
            walk(v, path + ("[]",), objects, fields)
    else:
        field = "/".join("*" if QUERY.fullmatch(p) else p for p in path)
        fields[field].append(node)


def formats(values):
    """The formats every value of one field fits."""
    kinds = {type(v).__name__ for v in values if not isinstance(v, Num)}
    nums = [v for v in values if isinstance(v, Num)]
    if kinds:
        return {"+".join(sorted(kinds | ({"number"} if nums else set())))}
    out = set()
    if all(INT.fullmatch(v) for v in nums):
        out.add("int")
    places = {len(m.group(1)) if m else None
              for m in (FIXED.fullmatch(v) for v in nums)}
    if len(places) == 1 and None not in places:
        out.add(f"%.{places.pop()}f")
    if all(SHORTEST.fullmatch(v) for v in nums):
        out.add("Double.toString")
    return out


def shape(path):
    objects, fields = [], defaultdict(list)
    walk(load(path), (), objects, fields)
    return objects, {f: formats(vs) for f, vs in fields.items()}


def main(a_path, b_path):
    a_objects, a_fields = shape(a_path)
    b_objects, b_fields = shape(b_path)
    diffs = []
    a_keys, b_keys = dict(a_objects), dict(b_objects)
    for obj in sorted(a_keys.keys() | b_keys.keys()):
        ka, kb = a_keys.get(obj), b_keys.get(obj)
        if ka is None or kb is None:
            diffs.append(f"object /{obj}: only in {'B' if ka is None else 'A'}")
        elif ka != kb:
            if set(ka) != set(kb):
                diffs.append(f"object /{obj}: keys only in A {sorted(set(ka) - set(kb))}, "
                             f"only in B {sorted(set(kb) - set(ka))}")
            else:
                diffs.append(f"object /{obj}: key order differs")
    for field in sorted(a_fields.keys() & b_fields.keys()):
        fa, fb = a_fields[field], b_fields[field]
        if not fa & fb:
            diffs.append(f"field /{field}: A {sorted(fa) or ['mixed']} vs B {sorted(fb) or ['mixed']}")
    for d in diffs:
        print(d)
    print(f"{'same shape' if not diffs else f'{len(diffs)} differences'}: "
          f"{len(a_objects)}/{len(b_objects)} objects, {len(a_fields)}/{len(b_fields)} fields")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
