"""Seeded input generators for the benchmark.

Two generators, each byte-identical for a given seed and each emitting the
values a correct engine must reproduce:

* ``esco``: ESCO-dialect CSVs (header row, ``"``-quoted multiline cells,
  ``""`` escapes, empty cells) in the eight-file layout the ingest reads,
  with the reference's quirks planted on purpose -- SkillGroups that become
  Skills (Q1), occupation-pillar rows of which only ISCO->ISCO survive
  (Q2), relation rows with missing endpoints (S4), occupations joined to
  ISCO groups by code, and acyclic skill and ISCO hierarchies.  Beside the
  CSVs: ``expected.json`` (table counts, degree top-k, depth histograms),
  ``adjacency.tsv`` (every surviving edge), ``labels.tsv``,
  ``skill_uris.txt`` and ``query_labels.txt``.  ``gen_queries`` draws a
  search session's op mix from those labels, and ``gen_path`` a
  shortest-path case with its length.
* ``corpus``: a JSON-lines document corpus with planted exact duplicates,
  planted near-duplicates, short and low-quality documents and French,
  German and Spanish documents; ``expected.json`` lists the planted ids.
"""

import bisect
import json
import os
import random
from collections import defaultdict, deque

# ESCO v1.2.0 record counts: the 1x scale.
ESCO_1X = {
    "skills": 13900,
    "skill_groups": 640,
    "occupations": 3039,
    "isco_levels": (10, 43, 130, 436),
    "occ_skill_per_occ": (20, 65),
    "skill_skill": 5818,
}

VERBS = """manage operate design maintain develop analyse monitor install
inspect repair coordinate supervise prepare evaluate implement advise
assess plan negotiate document calibrate test configure teach translate
produce measure organise interpret handle promote clean assemble draft
audit schedule estimate process market diagnose train research present""".split()

NOUNS = """data systems software networks budgets contracts machinery vehicles
patients customers records accounts inventory safety quality energy water
soil crops livestock timber textiles metals plastics chemicals medicines
food beverages buildings roads bridges ships aircraft railways pipelines
circuits sensors robots databases websites reports policies events tours
music films images books archives exhibitions gardens forests fisheries
mines harbours warehouses laboratories kitchens hotels schools courts
prisons hospitals farms factories studios theatres museums libraries
payroll taxes loans insurance investments audits surveys maps weather
climate waste recycling lighting heating plumbing welding painting
printing packaging logistics procurement recruitment training hygiene""".split()

ROLES = """technician manager engineer officer operator specialist assistant
inspector consultant analyst supervisor coordinator designer developer
advisor worker instructor planner administrator controller""".split()

ADJS = """senior junior chief lead principal field mobile industrial
agricultural clinical digital marine environmental financial commercial
technical public private regional municipal forensic""".split()

ACCENTED = ["café", "naïve", "résumé", "façade", "über", "jalapeño"]

ENGLISH = """the and of to in is that it for was with on as by at from this
be are or an which his her they we not have had but all were when there
can more some would other into has time about than after first been only
people new could them these two may then do any like my now over such our
also most made very long where much through well should just because
those how even most back good own while each water work world year state
system market model policy energy health school family group number city
river house light music story power field order form level change point
study result public voice market reason process record nature method
growth design report value action source piece""".split()
FRENCH = """le la les de des et un une est que dans pour pas sur avec par
plus nous vous ils elle mais sont comme tout bien aussi temps travail
maison ville monde jour pays eau vie""".split()
GERMAN = """der die das und ein eine ist nicht mit von zu den sich auf
dem auch es an werden aus er hat dass sie nach wird bei einer um am sind
noch wie einem über einen so zum war haus stadt welt wasser arbeit""".split()
SPANISH = """el la los las de y un una es que en por con para no se su al
lo como más pero sus le ya o este sí porque esta entre cuando muy sin
sobre también casa ciudad mundo agua trabajo vida""".split()


# -- CSV dialect -----------------------------------------------------------

def csv_cell(v):
    """ESCO cell: empty for None, quoted when it holds , " or a newline."""
    if v is None:
        return ""
    if "," in v or '"' in v or "\n" in v or "\r" in v:
        return '"' + v.replace('"', '""') + '"'
    return v


def write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(csv_cell(c) for c in r) + "\n")
    return os.path.getsize(path)


# -- ESCO ------------------------------------------------------------------

class Names:
    """Unique label and URI factory over one seeded stream."""

    def __init__(self, rng):
        self.rng = rng
        self.used = set()

    def uri(self, kind):
        h = "%032x" % self.rng.getrandbits(128)
        return "http://data.europa.eu/esco/%s/%s-%s-%s-%s-%s" % (
            kind, h[:8], h[8:12], h[12:16], h[16:20], h[20:])

    def label(self, make):
        base = make()
        lab, n = base, 1
        while lab in self.used:
            n += 1
            lab = "%s %d" % (base, n)
        self.used.add(lab)
        return lab


def _alt_labels(rng, label):
    n = rng.choice((0, 0, 1, 2, 3))
    if n == 0:
        return None
    words = label.split()
    alts = []
    for i in range(n):
        w = list(words)
        w[rng.randrange(len(w))] = rng.choice(NOUNS)
        alts.append(" ".join(w))
    return "\n".join(alts)  # multiline cell, as in the real pillars


def _description(rng, label):
    r = rng.random()
    if r < 0.1:
        return None
    words = [rng.choice(VERBS + NOUNS) for _ in range(rng.randint(6, 16))]
    text = "%s: %s, %s." % (label, " ".join(words[:4]), " ".join(words[4:]))
    if r < 0.2:
        text += ' Known as the "%s" role.' % rng.choice(NOUNS)
    if r < 0.25:
        text += " See also %s." % rng.choice(ACCENTED)
    return text


def _bfs_depth_histogram(edges, max_depth):
    """Depth histogram with path counts, as a variable-length BROADER_THAN*
    walk from every root (a parent that is nobody's child) counts it:
    for each depth d, the distinct (root, node) pairs reached in exactly d
    steps and the number of paths reaching them."""
    children = defaultdict(list)
    srcs, dsts = set(), set()
    for p, c in edges:
        children[p].append(c)
        srcs.add(p)
        dsts.add(c)
    hist = {}
    for root in sorted(srcs - dsts):
        frontier = {root: 1}
        depth = 0
        while frontier and depth < max_depth:
            depth += 1
            nxt = defaultdict(int)
            for node, paths in frontier.items():
                for c in children.get(node, ()):
                    nxt[c] += paths
            if nxt:
                nodes, paths = hist.get(depth, (0, 0))
                hist[depth] = (nodes + len(nxt), paths + sum(nxt.values()))
            frontier = nxt
    return [[d, n, p] for d, (n, p) in sorted(hist.items())]


def _shortest_path_length(adj, a, b, max_depth):
    if a == b:
        return 0
    seen = {a}
    q = deque([(a, 0)])
    while q:
        node, d = q.popleft()
        if d == max_depth:
            continue
        for n in adj.get(node, ()):
            if n == b:
                return d + 1
            if n not in seen:
                seen.add(n)
                q.append((n, d + 1))
    return -1


def gen_esco(out, seed, scale):
    rng = random.Random("esco:%d:%s" % (seed, scale))
    names = Names(rng)
    os.makedirs(out, exist_ok=True)

    def scaled(n):
        return max(1, int(round(n * scale)))

    # ISCO: four code levels, child code = parent code + one character,
    # so codes are unique and the hierarchy is a tree (acyclic)
    alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    isco = []  # (uri, code, label, level, parent_uri)
    levels = [[] for _ in range(4)]
    child_n = defaultdict(int)
    for lvl, n in enumerate(ESCO_1X["isco_levels"]):
        for i in range(scaled(n)):
            if lvl == 0:
                code, parent = alphabet[i % 36] * (1 + i // 36), None
            else:
                while True:
                    p = rng.choice(levels[lvl - 1])
                    if child_n[p[0]] < 36:
                        break
                code, parent = p[1] + alphabet[child_n[p[0]]], p[0]
                child_n[p[0]] += 1
            row = (names.uri("isco"), code,
                   names.label(lambda: "%s %s workers" % (
                       rng.choice(ADJS), rng.choice(NOUNS))),
                   lvl, parent)
            levels[lvl].append(row)
            isco.append(row)
    isco_by_code = {r[1]: r[0] for r in isco}

    # skill groups: a tree four levels deep
    groups = []  # (uri, label, level, parent)
    n_roots = scaled(8)
    for i in range(scaled(ESCO_1X["skill_groups"])):
        if i < n_roots:
            lvl, parent = 0, None
        else:
            while True:
                p = groups[rng.randrange(len(groups))]
                if p[2] < 3:
                    break
            lvl, parent = p[2] + 1, p[0]
        groups.append((names.uri("skill"), names.label(
            lambda: "%s %s" % (rng.choice(NOUNS), rng.choice(NOUNS))),
            lvl, parent))

    # skills: base skills sit under a group; the rest under a group or a
    # base skill (never a deeper skill, so the pillar stays a shallow DAG)
    skills = []  # (uri, label, type)
    broader_skill = []  # (childType, child, parentType, parent)
    for g in groups:
        if g[3] is not None:
            broader_skill.append(("SkillGroup", g[0], "SkillGroup", g[3]))
    n_skills = scaled(ESCO_1X["skills"])
    n_base = n_skills * 3 // 10
    for i in range(n_skills):
        uri = names.uri("skill")
        lab = names.label(lambda: "%s %s" % (rng.choice(VERBS), rng.choice(NOUNS))
                          + ("" if rng.random() < 0.25 else " " + rng.choice(NOUNS)))
        if rng.random() < 0.03:
            lab = names.label(lambda: lab + " " + rng.choice(ACCENTED))
        stype = "knowledge" if rng.random() < 0.35 else "skill/competence"
        skills.append((uri, lab, stype))
        if i < n_base or rng.random() < 0.55:
            g = groups[rng.randrange(len(groups))]
            broader_skill.append(("KnowledgeSkillCompetence", uri, "SkillGroup", g[0]))
        else:
            b = skills[rng.randrange(n_base)]
            broader_skill.append(("KnowledgeSkillCompetence", uri,
                                  "KnowledgeSkillCompetence", b[0]))
        if rng.random() < 0.04:  # second parent: more than one path
            g = groups[rng.randrange(len(groups))]
            row = ("KnowledgeSkillCompetence", uri, "SkillGroup", g[0])
            if row not in broader_skill[-2:]:
                broader_skill.append(row)
    valid_broader_skill = sorted({(r[3], r[1]) for r in broader_skill})
    # S4: rows whose other endpoint exists nowhere
    for _ in range(scaled(40)):
        broader_skill.append(("KnowledgeSkillCompetence",
                              rng.choice(skills)[0], "SkillGroup",
                              names.uri("skill")))
    broader_skill.extend(rng.sample(broader_skill, scaled(20)))  # duplicates
    rng.shuffle(broader_skill)

    # occupations: each names a unit ISCO code; a few codes match nothing
    occs = []  # (uri, code, label)
    for _ in range(scaled(ESCO_1X["occupations"])):
        code = (rng.choice(levels[3])[1] if rng.random() > 0.01 else "X" +
                str(rng.randrange(1000)))
        occs.append((names.uri("occupation"), code, names.label(
            lambda: "%s %s %s" % (rng.choice(ADJS), rng.choice(NOUNS),
                                  rng.choice(ROLES)))))

    # occupation pillar: ISCO->ISCO survives, Occupation rows do not (Q2)
    broader_occ = []
    for r in isco:
        if r[4] is not None:
            broader_occ.append(("ISCOGroup", r[0], "ISCOGroup", r[4]))
    valid_broader_isco = sorted({(r[3], r[1]) for r in broader_occ})
    for o in occs:
        if o[1] in isco_by_code:
            broader_occ.append(("Occupation", o[0], "ISCOGroup", isco_by_code[o[1]]))
        if rng.random() < 0.4:
            broader_occ.append(("Occupation", o[0], "Occupation", rng.choice(occs)[0]))
    for _ in range(scaled(10)):
        broader_occ.append(("ISCOGroup", rng.choice(isco)[0], "ISCOGroup",
                            names.uri("isco")))
    rng.shuffle(broader_occ)

    # occupation-skill relations: Zipf-like skill popularity
    cum, acc = [], 0.0
    for i in range(n_skills):
        acc += 1.0 / (i + 10)
        cum.append(acc)
    popular = list(range(n_skills))
    rng.shuffle(popular)
    occ_skill = []
    essential, optional = set(), set()
    lo, hi = ESCO_1X["occ_skill_per_occ"]
    for o in occs:
        picked = set()
        want = rng.randint(lo, hi)
        while len(picked) < want:
            picked.add(popular[bisect.bisect_left(cum, rng.random() * acc)])
        for si in sorted(picked):
            s = skills[si]
            rel = "essential" if rng.random() < 0.5 else "optional"
            (essential if rel == "essential" else optional).add((s[0], o[0]))
            occ_skill.append((o[0], rel, s[2], s[0]))
    for _ in range(scaled(300)):  # S4: unknown skill or occupation
        if rng.random() < 0.7:
            occ_skill.append((rng.choice(occs)[0], "essential",
                              "skill/competence", names.uri("skill")))
        else:
            occ_skill.append((names.uri("occupation"), "optional",
                              "knowledge", rng.choice(skills)[0]))
    occ_skill.extend(rng.sample(occ_skill, scaled(50)))
    rng.shuffle(occ_skill)

    # skill-skill relations: distinct ordered pairs, no self loops
    related = set()
    n_rel = scaled(ESCO_1X["skill_skill"])
    while len(related) < n_rel:
        a, b = rng.randrange(n_skills), rng.randrange(n_skills)
        if a != b:
            related.add((a, b))
    skill_skill = []
    related_rows = set()
    for a, b in sorted(related):
        rel = "essential" if rng.random() < 0.03 else "optional"
        skill_skill.append((skills[a][0], skills[a][2], rel, skills[b][2], skills[b][0]))
        related_rows.add((skills[a][0], skills[b][0], rel))
    for _ in range(scaled(30)):
        skill_skill.append((rng.choice(skills)[0], "knowledge", "optional",
                            "knowledge", names.uri("skill")))
    rng.shuffle(skill_skill)

    # -- write the eight files ------------------------------------------
    def node_common(label):
        return (label, _alt_labels(rng, label), None, "released",
                "2023-0%d-1%dT10:00:00Z" % (rng.randint(1, 9), rng.randint(0, 9)))

    scheme = ("http://data.europa.eu/esco/concept-scheme/skills\n"
              "http://data.europa.eu/esco/concept-scheme/member-skills")
    csv_bytes = 0
    csv_bytes += write_csv(
        os.path.join(out, "skillGroups_en.csv"),
        ["conceptType", "conceptUri", "preferredLabel", "altLabels",
         "hiddenLabels", "status", "modifiedDate", "scopeNote", "inScheme",
         "description", "code"],
        [("SkillGroup", g[0]) + node_common(g[1]) + (None, scheme,
         _description(rng, g[1]), "S%d.%d" % (g[2], i))
         for i, g in enumerate(groups)])
    csv_bytes += write_csv(
        os.path.join(out, "skills_en.csv"),
        ["conceptType", "conceptUri", "skillType", "reuseLevel",
         "preferredLabel", "altLabels", "hiddenLabels", "status",
         "modifiedDate", "scopeNote", "definition", "inScheme", "description"],
        [("KnowledgeSkillCompetence", s[0], s[2],
          rng.choice(("sector-specific", "cross-sector", "transversal")))
         + node_common(s[1]) + (None, None, scheme, _description(rng, s[1]))
         for s in skills])
    csv_bytes += write_csv(
        os.path.join(out, "occupations_en.csv"),
        ["conceptType", "conceptUri", "iscoGroup", "preferredLabel",
         "altLabels", "hiddenLabels", "status", "modifiedDate",
         "regulatedProfessionNote", "scopeNote", "definition", "inScheme",
         "description", "code"],
        [("Occupation", o[0], o[1]) + node_common(o[2]) +
         (None, None, None, scheme, _description(rng, o[2]), o[1] + ".%d" % i)
         for i, o in enumerate(occs)])
    csv_bytes += write_csv(
        os.path.join(out, "ISCOGroups_en.csv"),
        ["conceptType", "conceptUri", "code", "preferredLabel", "status",
         "altLabels", "inScheme", "description"],
        [("ISCOGroup", r[0], r[1], r[2], "released", _alt_labels(rng, r[2]),
          scheme, _description(rng, r[2])) for r in isco])
    rel_header = ["conceptType", "conceptUri", "broaderType", "broaderUri"]
    csv_bytes += write_csv(os.path.join(out, "broaderRelationsSkillPillar_en.csv"),
                           rel_header, broader_skill)
    csv_bytes += write_csv(os.path.join(out, "broaderRelationsOccPillar_en.csv"),
                           rel_header, broader_occ)
    csv_bytes += write_csv(
        os.path.join(out, "occupationSkillRelations_en.csv"),
        ["occupationUri", "relationType", "skillType", "skillUri"], occ_skill)
    csv_bytes += write_csv(
        os.path.join(out, "skillSkillRelations_en.csv"),
        ["originalSkillUri", "originalSkillType", "relationType",
         "relatedSkillType", "relatedSkillUri"], skill_skill)

    # -- expected values ---------------------------------------------------
    skill_label = {s[0]: s[1] for s in skills}
    skill_label.update({g[0]: g[1] for g in groups})
    occ_label = {o[0]: o[2] for o in occs}
    part_of_isco = sorted((o[0], isco_by_code[o[1]]) for o in occs
                          if o[1] in isco_by_code)

    ess_count = defaultdict(int)
    for s, _ in essential:
        ess_count[s] += 1
    top_ess = sorted(ess_count.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    expected = {
        "seed": seed, "scale": scale, "csv_bytes": csv_bytes,
        "counts": {
            "skills": len(skills) + len(groups),
            "occupations": len(occs),
            "isco_groups": len(isco),
            "broader_skill": len(valid_broader_skill),
            "broader_isco": len(valid_broader_isco),
            "broader_occupation": 0,
            "part_of_isco_group": len(part_of_isco),
            "essential_for": len(essential),
            "optional_for": len(optional),
            "related_skill": len(related_rows),
            "part_of_skill_group": 0,
            "skills_indexed": len(skills) + len(groups),
            "occupations_indexed": len(occs),
        },
        "top_essential_skills": [[u, skill_label[u], n] for u, n in top_ess],
        "skill_depths": _bfs_depth_histogram(valid_broader_skill, 12),
        "isco_depths": _bfs_depth_histogram(valid_broader_isco, 10),
    }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    with open(os.path.join(out, "labels.tsv"), "w", encoding="utf-8") as f:
        for u in sorted(skill_label):
            f.write("%s\t%s\n" % (u, skill_label[u]))
        for u in sorted(occ_label):
            f.write("%s\t%s\n" % (u, occ_label[u]))
        for r in isco:
            f.write("%s\t%s\n" % (r[0], r[2]))
    with open(os.path.join(out, "adjacency.tsv"), "w", encoding="utf-8") as f:
        for rel, edges in (("essential", essential), ("optional", optional)):
            for s, o in sorted(edges):
                f.write("%s\t%s\t%s\n" % (rel, s, o))
        for o, i in part_of_isco:
            f.write("isco\t%s\t%s\n" % (o, i))
        for p, c in valid_broader_skill:
            f.write("broader\t%s\t%s\n" % (p, c))
        for s, d, _ in sorted(related_rows):
            f.write("related\t%s\t%s\n" % (s, d))
        for p, c in valid_broader_isco:
            f.write("broader_isco\t%s\t%s\n" % (p, c))
    with open(os.path.join(out, "skill_uris.txt"), "w", encoding="utf-8") as f:
        for s in skills:
            f.write(s[0] + "\n")

    with open(os.path.join(out, "query_labels.txt"), "w", encoding="utf-8") as f:
        for lab in [s[1] for s in skills] + [o[2] for o in occs]:
            f.write(lab + "\n")
    return expected


def gen_queries(esco_dir, path, seed, n_queries=2000):
    """A search session over a generated warehouse, in blocks of four ops:
    a skill, an occupation and a both-types search, then a profile search
    (occupation and skill in turn). Each run of 12 blocks uses every
    (threshold, limit) pair once, in seeded order, so that a run's cost
    mix does not hang on the seed. Each query is a skill or occupation
    label with a word dropped or an unrelated word added now and then, so
    that some queries miss the threshold."""
    q_rng = random.Random("queries:%d" % seed)
    with open(os.path.join(esco_dir, "query_labels.txt"), encoding="utf-8") as f:
        all_labels = f.read().splitlines()
    pairs = [(t, n) for t in ("0.3", "0.5", "0.6", "0.7") for n in (5, 10, 20)]
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n_queries):
            block = i // 4
            if block % len(pairs) == 0 and i % 4 == 0:
                q_rng.shuffle(pairs)
            threshold, limit = pairs[block % len(pairs)]
            words = q_rng.choice(all_labels).split()
            if len(words) > 1 and q_rng.random() < 0.5:
                del words[q_rng.randrange(len(words))]
            if q_rng.random() < 0.2:
                words.insert(q_rng.randrange(len(words) + 1), q_rng.choice(NOUNS))
            if i % 4 == 3:
                op, typ = "profile", ("occupation", "skill")[block % 2]
            else:
                op, typ = "search", ("skill", "occupation", "both")[i % 4]
            f.write("%s\t%s\t%s\t%d\t%s\n" % (
                op, typ, threshold, limit, " ".join(words)))


def gen_path(esco_dir, seed, length=4):
    """A shortest-path case over a generated warehouse: two skills drawn
    by the seed, by label, whose shortest path over every surviving edge,
    undirected, has ``length`` edges -- the common length on the 1x
    warehouse -- so that every seed's case takes as many search rounds."""
    adj = defaultdict(set)
    with open(os.path.join(esco_dir, "adjacency.tsv"), encoding="utf-8") as f:
        for line in f:
            _, a, b = line.rstrip("\n").split("\t")
            adj[a].add(b)
            adj[b].add(a)
    with open(os.path.join(esco_dir, "skill_uris.txt"), encoding="utf-8") as f:
        skills = f.read().split()
    label = {}
    with open(os.path.join(esco_dir, "labels.tsv"), encoding="utf-8") as f:
        for line in f:
            u, t = line.rstrip("\n").split("\t", 1)
            label[u] = t
    rng = random.Random("path:%d" % seed)
    for _ in range(1000):
        a, b = rng.sample(skills, 2)
        if _shortest_path_length(adj, a, b, length) == length:
            return {"from": label[a], "to": label[b], "length": length}
    raise ValueError("no pair of skills %d edges apart" % length)


# -- document corpus -------------------------------------------------------

def gen_corpus(out, seed, n_docs):
    """Documents with planted exact duplicates (5%), near-duplicates (5%),
    short (3%) and low-quality (3%) documents and fr/de/es documents
    (3% each); everything else is distinct English text."""
    rng = random.Random("corpus:%d:%d" % (seed, n_docs))
    os.makedirs(out, exist_ok=True)

    def prose(vocab, n):
        # every sixth word a function word of the language, so the
        # language guess (function-word hits) always has evidence
        markers = vocab[:10]
        return " ".join(rng.choice(markers if i % 6 == 0 else vocab)
                        for i in range(n))

    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_short = n_docs * 3 // 100
    n_lowq = n_docs * 3 // 100
    n_lang = n_docs * 3 // 100
    n_base = n_docs - n_exact - n_near - n_short - n_lowq - 3 * n_lang
    kinds = (["base"] * n_base + ["exact"] * n_exact + ["near"] * n_near +
             ["short"] * n_short + ["lowq"] * n_lowq + ["fr"] * n_lang +
             ["de"] * n_lang + ["es"] * n_lang)
    rng.shuffle(kinds)
    # every copy's original must come earlier, so the original keeps the
    # smallest id of its group and the copy is the one dropped
    texts, base_ids, seen = [], [], set()
    exact_ids, near_ids, used = [], [], set()
    for doc_id, kind in enumerate(kinds):
        if kind in ("exact", "near") and len(base_ids) - len(used) < 10:
            kind = "base"  # too early for a copy: no original yet
        if kind == "base":
            while True:
                t = prose(ENGLISH, rng.randint(40, 160))
                if t not in seen:
                    break
            seen.add(t)
            base_ids.append(doc_id)
        elif kind in ("exact", "near"):
            while True:
                orig = base_ids[rng.randrange(len(base_ids))]
                if orig not in used:
                    break
            used.add(orig)
            if kind == "exact":
                t = texts[orig]
                exact_ids.append(doc_id)
            else:  # one word changed per 50: shingle Jaccard stays high
                words = texts[orig].split()
                for _ in range(max(1, len(words) // 50)):
                    words[rng.randrange(len(words))] = rng.choice(
                        ("ocean", "mountain", "velvet", "harbor", "lantern"))
                t = " ".join(words)
                near_ids.append(doc_id)
        elif kind == "short":
            t = prose(ENGLISH, rng.randint(1, 8))
        elif kind == "lowq":
            t = " ".join("%d%s" % (rng.randrange(10 ** 6), rng.choice("!?#%$&*"))
                         for _ in range(rng.randint(20, 60)))
        else:
            vocab = {"fr": FRENCH, "de": GERMAN, "es": SPANISH}[kind]
            t = prose(vocab, rng.randint(40, 120))
        texts.append(t)
    path = os.path.join(out, "docs.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for doc_id, (kind, t) in enumerate(zip(kinds, texts)):
            f.write(json.dumps({"doc_id": doc_id, "text": t,
                                "source": "gen-%s" % kind},
                               ensure_ascii=False) + "\n")
    expected = {"seed": seed, "docs": n_docs,
                "bytes": os.path.getsize(path),
                "exact_duplicate_ids": exact_ids,
                "near_duplicate_ids": near_ids}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected
