"""Seeded ROR-shaped dump generator with known ground truth.

Week ``w`` (1-based) holds the first ``base + (w - 1) * growth`` organisations
of one seeded registry, so every week's dump is a superset of the last one
and the monotonic-count gate always has something to pass. Every record
follows the ROR schema (names, links, types, id, status, admin, domains,
established, locations, relationships, external_ids).

The parent structure covers the rollup cases that matter (FIXTURES.md §1):

* chains of varied depth (each new org picks a parent among earlier orgs,
  with a bias towards recent ones, so depths spread out);
* one chain deeper than ``max_depth``, whose lower part must fall back to
  self and be reported as capped;
* real 2-cycles (A -> B, B -> A), plus orgs whose chain runs into a cycle;
  all of these are capped;
* ``"parent"`` written as ``parent``, ``Parent`` and ``PARENT``;
* records with several parent relationships, where the last one wins;
* ``child`` / ``related`` / ``successor`` relationships, which are ignored.

``truth(parents, max_depth)`` resolves the same semantics independently of
the program: walk ``id -> parent`` until a self-parent; more than
``max_depth`` hops (or a cycle) falls back to the id itself, marked capped.
"""
import json
import random

MAX_DEPTH = 200
DEEP_CHAIN = MAX_DEPTH + 30
CYCLES = 12
INTO_CYCLE = 20

_ALNUM = "0123456789abcdefghjkmnpqrstvwxyz"
_COUNTRIES = [("DE", "Germany", "EU", "Europe"), ("US", "United States", "NA", "North America"),
              ("JP", "Japan", "AS", "Asia"), ("BR", "Brazil", "SA", "South America"),
              ("KE", "Kenya", "AF", "Africa"), ("AU", "Australia", "OC", "Oceania"),
              ("FR", "France", "EU", "Europe"), ("IN", "India", "AS", "Asia")]
_TYPES = ["education", "facility", "government", "healthcare", "company", "nonprofit",
          "archive", "funder", "other"]
_WORDS = ["Institute", "University", "Laboratory", "Centre", "Hospital", "Agency",
          "Foundation", "Museum", "Observatory", "College", "Council", "Society"]
_FIELDS = ["Physics", "Medicine", "Ocean Science", "Economics", "Linguistics",
           "Informatics", "Chemistry", "Agronomy", "History", "Energy"]


def _ror_id(rng, used):
    while True:
        s = "0" + "".join(rng.choice(_ALNUM) for _ in range(6)) + "%02d" % rng.randrange(100)
        if s not in used:
            used.add(s)
            return "https://ror.org/" + s


def _parent_type(rng):
    return rng.choice(["parent", "parent", "parent", "Parent", "PARENT"])


class Registry:
    """The full seeded registry; ``dump(n)`` is its first ``n`` records."""

    def __init__(self, seed, size):
        rng = random.Random(seed)
        used = set()
        ids = [_ror_id(rng, used) for _ in range(size)]
        # rels[i]: relationships of org i, as (type, target index) pairs.
        rels = [[] for _ in range(size)]
        special = DEEP_CHAIN + 2 * CYCLES + INTO_CYCLE
        if size < special * 4:
            raise ValueError(f"registry of {size} orgs is too small (need >= {special * 4})")
        # deep chain at the front: org k's parent is org k+1, the last is a root
        for k in range(DEEP_CHAIN - 1):
            rels[k].append((_parent_type(rng), k + 1))
        at = DEEP_CHAIN
        cycle_nodes = []
        for _ in range(CYCLES):
            a, b = at, at + 1
            rels[a].append((_parent_type(rng), b))
            rels[b].append((_parent_type(rng), a))
            cycle_nodes += [a, b]
            at += 2
        for _ in range(INTO_CYCLE):
            rels[at].append((_parent_type(rng), rng.choice(cycle_nodes)))
            at += 1
        for i in range(at, size):
            r = rng.random()
            if r < 0.45:
                pass  # a root
            else:
                lo = max(0, i - 400) if rng.random() < 0.6 else 0
                p = rng.randrange(lo, i)
                if r > 0.93:
                    # several parents: an earlier one first, the winner last
                    rels[i].append((_parent_type(rng), rng.randrange(0, i)))
                rels[i].append((_parent_type(rng), p))
            for _ in range(rng.choice([0, 0, 1, 2])):
                t = rng.choice(["child", "related", "successor", "predecessor"])
                rels[i].insert(rng.randrange(len(rels[i]) + 1), (t, rng.randrange(0, max(i, 1))))
        self.ids = ids
        self.rels = rels
        self.lines = [json.dumps(self._record(rng, i), separators=(",", ":")) for i in range(size)]

    def _record(self, rng, i):
        cc, country, cont, cont_name = rng.choice(_COUNTRIES)
        name = f"{rng.choice(_WORDS)} of {rng.choice(_FIELDS)} {i}"
        year = 1850 + rng.randrange(170)
        names = [{"value": name, "types": ["ror_display", "label"], "lang": "en"}]
        if rng.random() < 0.4:
            names.append({"value": name.upper()[:12], "types": ["acronym"], "lang": None})
        if rng.random() < 0.3:
            names.append({"value": f"{name} ({country})", "types": ["alias"], "lang": cc.lower()})
        return {
            "names": names,
            "links": [{"type": "website", "value": f"https://org{i}.example.org"}],
            "types": rng.sample(_TYPES, rng.choice([1, 1, 2])),
            "id": self.ids[i],
            "status": "active" if rng.random() < 0.95 else "inactive",
            "admin": {
                "created": {"date": f"2019-{1 + i % 12:02d}-{1 + i % 28:02d}", "schema_version": "1.0"},
                "last_modified": {"date": "2024-04-15", "schema_version": "2.0"}},
            "domains": [f"org{i}.example.org"] if rng.random() < 0.5 else [],
            "established": year if rng.random() < 0.8 else None,
            "locations": [{
                "geonames_id": 100000 + rng.randrange(9_000_000),
                "geonames_details": {
                    "continent_code": cont, "continent_name": cont_name,
                    "country_name": country, "country_code": cc,
                    "country_subdivision_code": None, "country_subdivision_name": None,
                    "lat": round(rng.uniform(-60, 70), 5), "lng": round(rng.uniform(-170, 170), 5),
                    "name": f"City {rng.randrange(5000)}"}}],
            "relationships": [{"id": self.ids[j], "label": f"Org {j}", "type": t}
                              for t, j in self.rels[i]],
            "external_ids": [{"type": "grid", "all": [f"grid.{i}.{rng.randrange(10)}"],
                              "preferred": f"grid.{i}.0"}] if rng.random() < 0.7 else [],
        }

    def write_dump(self, n, path):
        """Write the first ``n`` records as one pretty JSON array; returns bytes."""
        with open(path, "w") as f:
            f.write("[\n")
            f.write(",\n".join(self.lines[:n]))
            f.write("\n]\n")
        with open(path, "rb") as f:
            return len(f.read())

    def parents(self, n):
        """``id -> parent`` of the first ``n`` records: the last relationship
        whose type lower-cases to ``parent`` wins, no parent means self."""
        out = {}
        for i in range(n):
            p = i
            for t, j in self.rels[i]:
                if t.lower() == "parent":
                    p = j
            out[self.ids[i]] = self.ids[p]
        return out


def truth(parents, max_depth=MAX_DEPTH):
    """``(ultimate_parent by id, sorted capped ids)`` for an ``id -> parent`` map."""
    up, capped = {}, []
    for start in parents:
        cur, steps, resolved = start, 0, None
        while steps <= max_depth:
            p = parents.get(cur, cur)
            if p == cur:
                resolved = cur
                break
            cur = p
            steps += 1
        if resolved is None:
            up[start] = start
            capped.append(start)
        else:
            up[start] = resolved
    return up, sorted(capped)
