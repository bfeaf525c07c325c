"""Seeded FollowTheMoney corpus generator with known duplicate clusters.

Writes, under --out:

  day-00.ijson            the day-0 corpus (one entity per line)
  day-01.ijson ...        one delta batch per file, --batches of them
  truth.json              the duplicate clusters: every cluster of two or
                          more entity ids that describe the same thing
  meta.json               counts per schema and per file

The same --seed (and sizes) gives byte-identical files.

Shape of the data:

* Base things are Person (60%) or Company (40%) records.  Each base thing
  appears as one to four records (a duplicate cluster; 55/28/12/5%);
  each copy after the first is perturbed by typos, name-token reordering
  and missing properties.  Persons carry only full names: firstName and
  lastName are name-typed, so a shared first name alone would count as
  a name match.
* Every record links its own Address entity through `addressEntity`;
  the address copies of one base thing form a cluster of their own.
* Some companies are the `asset` of an Ownership whose `owner` is a
  random person or company record.  Ownerships are never duplicated;
  they make the entity-reference rewrite and the referrer closure do
  real work.
* Name, street and city words come from Zipf-distributed vocabularies,
  so a few head tokens are shared by hundreds of entities (the
  blocker's per-token caps bind there) while tail tokens are rare.
* A --delta-share of records (with their addresses and ownerships) is
  dealt evenly over the delta batches; a duplicate cluster may straddle
  day 0 and a batch, so increments merge into clusters that already
  exist.
* Every share is drawn exactly, so the seed changes the content but not
  the sizes, and runs with different seeds do the same amount of work.
"""

import argparse
import bisect
import json
import os
import random

COUNTRIES = ["us", "gb", "de", "fr", "ru", "cn", "ae", "cy", "pa", "vg",
             "ch", "nl", "it", "es", "tr", "ua", "kz", "br", "in", "za"]
ORG_SUFFIXES = ["Ltd", "LLC", "GmbH", "Holdings", "Group", "Trading",
                "Capital", "Partners", "Industries", "Ventures"]
ONSETS = ["b", "bl", "br", "c", "ch", "cl", "d", "dr", "f", "fl", "g", "gl",
          "gr", "h", "j", "k", "kh", "kr", "l", "m", "n", "p", "ph", "pr",
          "qu", "r", "s", "sc", "sh", "sl", "sm", "sp", "st", "sv", "t",
          "th", "tr", "ts", "v", "w", "y", "z", "zh"]
VOWELS = ["a", "e", "i", "o", "u", "y", "aa", "ai", "au", "ea", "ee", "ei",
          "eu", "ia", "ie", "io", "oa", "oe", "oi", "oo", "ou", "ua", "ue"]
CODAS = ["", "", "", "b", "ck", "d", "f", "g", "k", "l", "ll", "m", "n",
         "nd", "ng", "nt", "p", "r", "rd", "rn", "rt", "s", "sh", "ss",
         "st", "t", "th", "tz", "v", "x", "z", "ez", "ov", "sky", "son",
         "berg", "ani", "escu", "ides", "ovic"]


class Zipf:
    """Draw from a fixed vocabulary with weight 1/rank**s."""

    def __init__(self, words, s):
        self.words = words
        acc, self.cum = 0.0, []
        for r in range(1, len(words) + 1):
            acc += 1.0 / r ** s
            self.cum.append(acc)

    def draw(self, rng):
        x = rng.random() * self.cum[-1]
        return self.words[bisect.bisect_left(self.cum, x)]


def vocabulary(rng, n, syllables):
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(ONSETS) + rng.choice(VOWELS)
                    for _ in range(rng.choice(syllables))) + rng.choice(CODAS)
        if len(w) >= 4 and w not in seen:
            seen.add(w)
            out.append(w.capitalize())
    return out


def typo(rng, word):
    if len(word) < 4:
        return word
    i = rng.randrange(1, len(word) - 1)
    kind = rng.randrange(3)
    if kind == 0:  # substitution
        return word[:i] + rng.choice("aeiourstnl") + word[i + 1:]
    if kind == 1:  # deletion
        return word[:i] + word[i + 1:]
    return word[:i - 1] + word[i] + word[i - 1] + word[i + 1:]  # swap


class Generator:
    def __init__(self, seed, bases, batches, delta_share):
        self.rng = random.Random(seed)
        self.bases, self.batches = bases, batches
        self.delta_share = delta_share
        rng = self.rng
        self.first = Zipf(vocabulary(rng, 2000, (1, 2)), s=1.0)
        self.last = Zipf(vocabulary(rng, 6000, (1, 2, 3)), s=0.9)
        self.org = Zipf(vocabulary(rng, 4000, (1, 2, 3)), s=0.9)
        self.street = Zipf(vocabulary(rng, 2000, (1, 2)), s=1.0)
        self.city = Zipf(vocabulary(rng, 300, (1, 2)), s=1.1)
        self.country = Zipf(COUNTRIES, s=1.2)
        self.ids = set()

    def new_id(self, prefix):
        while True:
            i = "%s-%012x" % (prefix, self.rng.getrandbits(48))
            if i not in self.ids:
                self.ids.add(i)
                return i

    def base_thing(self, schema):
        rng = self.rng
        addr = {
            "number": str(rng.randrange(1, 300)),
            "street": self.street.draw(rng) + " " + rng.choice(
                ["Street", "Road", "Avenue", "Lane"]),
            "city": self.city.draw(rng),
            "postalCode": "%05d" % rng.randrange(100000),
            "country": self.country.draw(rng),
        }
        if schema == "Person":
            return {"schema": "Person", "first": self.first.draw(rng),
                    "last": self.last.draw(rng),
                    "birthDate": "%04d-%02d-%02d" % (
                        rng.randrange(1940, 2000), rng.randrange(1, 13),
                        rng.randrange(1, 29)),
                    "nationality": addr["country"]
                    if rng.random() < 0.7 else self.country.draw(rng),
                    "address": addr}
        words = [self.org.draw(rng) for _ in range(rng.choice((1, 2, 2, 3)))]
        return {"schema": "Company", "words": words,
                "suffix": rng.choice(ORG_SUFFIXES),
                "registrationNumber": "%s%07d" % (
                    rng.choice(["HRB", "C", "RC", "BN"]),
                    rng.randrange(10 ** 7)),
                "incorporationDate": "%04d-%02d-%02d" % (
                    rng.randrange(1970, 2024), rng.randrange(1, 13),
                    rng.randrange(1, 29)),
                "jurisdiction": addr["country"], "address": addr}

    def address_record(self, a, perturb):
        rng = self.rng
        street, city, postal = a["street"], a["city"], a["postalCode"]
        if perturb and rng.random() < 0.3:
            street = typo(rng, street)
        props = {"street": [a["number"] + " " + street], "city": [city],
                 "country": [a["country"]]}
        if not (perturb and rng.random() < 0.3):
            props["postalCode"] = [postal]
        full = "%s %s, %s %s" % (
            a["number"], street, props.get("postalCode", [""])[0], city)
        props["full"] = [full.replace("  ", " ")]
        return {"id": self.new_id("addr"), "schema": "Address",
                "properties": props}

    def record(self, b, perturb):
        """One record of base thing `b` plus its Address entity."""
        rng = self.rng
        addr = self.address_record(b["address"], perturb)
        drop = (lambda: perturb and rng.random() < 0.3)
        if b["schema"] == "Person":
            first, last = b["first"], b["last"]
            if perturb and rng.random() < 0.5:
                if rng.random() < 0.5:
                    first = typo(rng, first)
                else:
                    last = typo(rng, last)
            name = (last + " " + first if perturb and rng.random() < 0.3
                    else first + " " + last)
            props = {"name": [name], "country": [b["address"]["country"]]}
            if not drop():
                props["birthDate"] = [b["birthDate"]]
            if not drop():
                props["nationality"] = [b["nationality"]]
            prefix = "per"
        else:
            words = list(b["words"])
            if perturb and rng.random() < 0.5:
                k = rng.randrange(len(words))
                words[k] = typo(rng, words[k])
            if perturb and len(words) > 1 and rng.random() < 0.3:
                rng.shuffle(words)
            suffix = b["suffix"] if not drop() else ""
            props = {"name": [" ".join(words + ([suffix] if suffix else []))],
                     "jurisdiction": [b["jurisdiction"]],
                     "country": [b["address"]["country"]]}
            if not drop():
                props["registrationNumber"] = [b["registrationNumber"]]
            if not drop():
                props["incorporationDate"] = [b["incorporationDate"]]
            prefix = "com"
        if not drop():
            props["addressEntity"] = [addr["id"]]
        ent = {"id": self.new_id(prefix), "schema": b["schema"],
               "properties": props}
        return ent, addr

    def exact(self, n, weights):
        """n draws with exactly the weighted shares (largest remainder),
        in seeded order: the seed changes the content, not the sizes."""
        total = float(sum(weights.values()))
        want = {k: n * w / total for k, w in weights.items()}
        got = {k: int(v) for k, v in want.items()}
        for k in sorted(want, key=lambda k: got[k] - want[k])[
                :n - sum(got.values())]:
            got[k] += 1
        out = [k for k in sorted(got) for _ in range(got[k])]
        self.rng.shuffle(out)
        return out

    def generate(self):
        rng = self.rng
        days = [[] for _ in range(self.batches + 1)]
        clusters = []
        records = []  # (entity, address)
        persons = round(self.bases * 0.6)
        mix = {1: 55, 2: 28, 3: 12, 4: 5}
        things = [("Person", n) for n in self.exact(persons, mix)] + [
            ("Company", n) for n in self.exact(self.bases - persons, mix)]
        rng.shuffle(things)
        for schema, n in things:
            b = self.base_thing(schema)
            recs = [self.record(b, perturb=c > 0) for c in range(n)]
            records += recs
            if n > 1:
                clusters.append([e["id"] for e, _ in recs])
                clusters.append([a["id"] for _, a in recs])
        # a fixed share of records goes to the delta, dealt evenly over
        # the batches
        day_of = [0] * len(records)
        if self.batches:
            delta = rng.sample(range(len(records)),
                               round(len(records) * self.delta_share))
            for i, r in enumerate(delta):
                day_of[r] = 1 + i % self.batches
        for (ent, addr), day in zip(records, day_of):
            days[day] += [ent, addr]
        companies = [i for i, (e, _) in enumerate(records)
                     if e["schema"] == "Company"]
        for i in sorted(rng.sample(companies, round(len(companies) * 0.3))):
            asset = records[i][0]
            owner = records[rng.randrange(len(records))][0]
            if owner is asset:
                continue
            days[day_of[i]].append({
                "id": self.new_id("own"), "schema": "Ownership",
                "properties": {
                    "owner": [owner["id"]], "asset": [asset["id"]],
                    "percentage": [str(rng.choice((10, 25, 50, 51, 100)))],
                    "startDate": ["%04d" % rng.randrange(1990, 2024)]}})
        return days, clusters


def dump_lines(path, ents):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for e in ents:
            f.write(json.dumps(e, sort_keys=True, separators=(",", ":")))
            f.write("\n")


def write_corpus(out, seed, bases, batches, delta_share):
    os.makedirs(out, exist_ok=True)
    days, clusters = Generator(seed, bases, batches, delta_share).generate()
    files = []
    for d, ents in enumerate(days):
        name = "day-%02d.ijson" % d
        dump_lines(os.path.join(out, name), ents)
        files.append({"file": name, "entities": len(ents)})
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as f:
        json.dump({"clusters": clusters}, f, sort_keys=True,
                  separators=(",", ":"))
    schemas = {}
    for ents in days:
        for e in ents:
            schemas[e["schema"]] = schemas.get(e["schema"], 0) + 1
    meta = {"seed": seed, "bases": bases, "batches": batches,
            "delta_share": delta_share, "files": files, "schemas": schemas,
            "truth_clusters": len(clusters),
            "truth_pairs": sum(len(c) * (len(c) - 1) // 2 for c in clusters)}
    with open(os.path.join(out, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f, sort_keys=True, indent=1)
    return meta


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--bases", type=int, default=1000)
    ap.add_argument("--batches", type=int, default=0)
    ap.add_argument("--delta-share", type=float, default=0.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write_corpus(a.out, a.seed, a.bases, a.batches,
                                  a.delta_share), sort_keys=True))


if __name__ == "__main__":
    main()
