"""Seeded directory-tree generator with a ground-truth manifest.

One seed always gives the same tree: the same paths, the same bytes, the
same planted duplicates. The generator writes only under the root it is
given. The manifest it returns is the ground truth the benchmark checks the
catalogue against.

The module also derives, from the same seed and the manifest alone:

- the refresh workload's mutation batches (``mutation_plan``), each with the
  catalogue it should leave behind;
- the search workload's operation mix (``search_args``), and the complete
  expected result of any operation (``Catalogue.expect``).

Expected results follow the program's documented semantics: ``vw_ll`` rows
for files and for directories whose parent is catalogued, SQL LIKE for
wildcards, duplicate searches as the union of identity, (sha1, size) and
(md5, size) matches.
"""

import hashlib
import os
import random
import re
from decimal import ROUND_HALF_UP, Decimal

WORDS = ["report", "photo", "track", "notes", "data", "invoice", "backup",
         "scan", "draft", "log", "video", "mail"]
EXTS = ["txt", "jpg", "mp3", "pdf", "csv", "bin", "doc", "png"]
DIR_WORDS = ["music", "photos", "work", "archive", "misc", "projects",
             "home", "media", "docs", "share"]

POOL_BYTES = 1 << 20  # random bytes that file bodies are sliced from
HEADER_BYTES = 16     # per-content unique header, so bodies never collide


class Shape:
    """Tree shape. The defaults give about 600 directories over 2 levels
    below the root and about 9k files (10% of them 32-128 KiB, the rest
    1-16 KiB), about 140 MB."""

    def __init__(self, fanout=(24, 24), files=9000, big_frac=0.10,
                 dup_groups=80, dup_dirs=8):
        self.fanout = fanout
        self.files = files
        self.big_frac = big_frac
        self.dup_groups = dup_groups
        self.dup_dirs = dup_dirs


class Content:
    """Deterministic file bodies: a unique header plus a slice of a seeded
    random pool. Equal keys give equal bytes; distinct keys never do."""

    def __init__(self, seed):
        self.pool = random.Random(seed * 7919 + 1).getrandbits(
            POOL_BYTES * 8).to_bytes(POOL_BYTES, "little")
        self.counter = 0

    def fresh(self, rng, size):
        self.counter += 1
        header = self.counter.to_bytes(HEADER_BYTES, "little")
        need = size - HEADER_BYTES
        out = bytearray(header)
        while need > 0:
            off = rng.randrange(POOL_BYTES - 1)
            take = min(need, POOL_BYTES - off)
            out += self.pool[off:off + take]
            need -= take
        return bytes(out)


def digests(body):
    return hashlib.md5(body).hexdigest(), hashlib.sha1(body).hexdigest()


def size_mb(nbytes):
    """The catalogue's size unit: megabytes rounded half-up to 6 places."""
    return (Decimal(nbytes) / Decimal(1000000)).quantize(
        Decimal("0.000001"), rounding=ROUND_HALF_UP)


def pick_size(rng, big_frac):
    if rng.random() < big_frac:
        return rng.randint(32 * 1024, 128 * 1024)
    return rng.randint(1024, 16 * 1024)


class Manifest:
    """Ground truth: every directory and file of the tree. The tree's root
    only holds the drives (the top-level directories, whose subtrees the
    refresh steps mutate); it is not itself catalogued and not in `dirs`."""

    def __init__(self, root):
        self.root = root
        self.dirs = set()
        self.files = {}  # path -> (nbytes, md5, sha1)
        self.dup_groups = []  # lists of paths planted with equal content
        self.dup_dirs = []  # (source dir, copy dir)

    def write(self, path, body):
        with open(path, "wb") as f:
            f.write(body)
        self.files[path] = (len(body),) + digests(body)

    def copy(self):
        m = Manifest(self.root)
        m.dirs = set(self.dirs)
        m.files = dict(self.files)
        m.dup_groups = list(self.dup_groups)
        m.dup_dirs = list(self.dup_dirs)
        return m

    # ---- derived views -------------------------------------------------
    def drives(self):
        return sorted(d for d in self.dirs if os.path.dirname(d) == self.root)

    def children(self):
        kids = {d: [] for d in self.dirs}
        for d in self.dirs:
            parent = os.path.dirname(d)
            if parent in kids:
                kids[parent].append(d)
        return kids

    def files_in(self):
        out = {d: [] for d in self.dirs}
        for p in self.files:
            out[os.path.dirname(p)].append(p)
        return out

    def by_content(self):
        out = {}
        for p, (n, _md5, sha1) in self.files.items():
            out.setdefault((sha1, n), []).append(p)
        return out


def _dir_name(rng, level, idx):
    # fixed width: no directory name is a prefix of a sibling's
    return "%s_%d%02d" % (rng.choice(DIR_WORDS), level, idx)


def _file_name(rng, taken):
    while True:
        name = "%s_%04d.%s" % (rng.choice(WORDS), rng.randrange(10000),
                               rng.choice(EXTS))
        if name not in taken:
            taken.add(name)
            return name


def generate(seed, root, shape=None):
    """Write the tree for `seed` under `root` (which must not exist) and
    return its Manifest."""
    shape = shape or Shape()
    rng = random.Random(seed)
    content = Content(seed)
    os.makedirs(root)
    m = Manifest(root)

    # directories: a level-by-level fan-out with a little seeded jitter
    frontier = [root]  # level 1 holds the drives
    for level, fan in enumerate(shape.fanout, start=1):
        nxt = []
        for parent in frontier:
            for i in range(max(1, fan + rng.choice((-1, 0, 0, 1)))):
                d = os.path.join(parent, _dir_name(rng, level, i))
                if d in m.dirs:
                    continue
                os.mkdir(d)
                m.dirs.add(d)
                nxt.append(d)
        frontier = nxt
    dirs = sorted(m.dirs)

    # files: weighted placement so directory sizes vary
    weights = [rng.paretovariate(1.5) for _ in dirs]
    names = {d: set() for d in m.dirs}
    placed = rng.choices(dirs, weights=weights, k=shape.files)
    sizes = [pick_size(rng, shape.big_frac) for _ in placed]

    # duplicate-file groups: sizes 2..~50, long-tailed; copies scattered
    n_dup_files = 0
    groups = []
    for g in range(shape.dup_groups):
        k = min(50, max(2, int(rng.paretovariate(1.1) * 2)))
        if g == 0:
            k = 50  # at least one group at the top of the range
        groups.append(k)
        n_dup_files += k
    unique = shape.files - n_dup_files

    for d, nbytes in zip(placed[:unique], sizes[:unique]):
        m.write(os.path.join(d, _file_name(rng, names[d])),
                content.fresh(rng, nbytes))
    cursor = unique
    for k in groups:
        body = content.fresh(rng, sizes[cursor])
        group = []
        for d in placed[cursor:cursor + k]:
            p = os.path.join(d, _file_name(rng, names[d]))
            m.write(p, body)
            group.append(p)
        cursor += k
        m.dup_groups.append(sorted(group))

    # duplicate directories: a leaf's files copied (same names, same bytes)
    # into a new sibling leaf
    files_in = m.files_in()
    kids = m.children()
    leaves = [d for d in dirs if not kids[d] and files_in[d]]
    for src in rng.sample(leaves, min(shape.dup_dirs, len(leaves))):
        dst = src + "_copy"
        os.mkdir(dst)
        m.dirs.add(dst)
        for p in sorted(files_in[src]):
            with open(p, "rb") as f:
                m.write(os.path.join(dst, os.path.basename(p)), f.read())
        m.dup_dirs.append((src, dst))
    return m


# ---------------------------------------------------------------------------
# expected search results (the program's documented semantics)

def like_regex(user_pattern):
    """User wildcard (`*`, `?`) -> the regex the SQL LIKE it becomes
    matches: every other character is literal, the match is whole-string
    and case-sensitive."""
    out = []
    for ch in user_pattern.strip():
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return re.compile("".join(out), re.S)


class Catalogue:
    """Expected-answer index over a manifest."""

    def __init__(self, m):
        self.m = m
        self.kids = m.children()
        self.files_in = m.files_in()
        self.by_content = m.by_content()
        self.by_hash = {}
        for p, (_n, md5, sha1) in m.files.items():
            self.by_hash.setdefault(md5, []).append(p)
            self.by_hash.setdefault(sha1, []).append(p)
        # (label, own name, parent's name) of every vw_ll row: all files,
        # and the directories whose parent is catalogued too
        self.rows = [("file|" + p, os.path.basename(p),
                      os.path.basename(os.path.dirname(p))) for p in m.files]
        self.rows += [("dir|" + d, os.path.basename(d),
                       os.path.basename(os.path.dirname(d)))
                      for d in m.dirs if os.path.dirname(d) in m.dirs]

    def expect(self, op, arg):
        """The complete result of search operation `op` on `arg`, as the
        sorted strings the benchmark formats the program's rows into."""
        return sorted(getattr(self, op)(arg))

    def name(self, pattern):
        rx = like_regex(pattern)
        return [label for label, own, parent in self.rows
                if rx.fullmatch(own) or rx.fullmatch(parent)]

    def name_dir(self, pattern):
        rx = like_regex(pattern)
        return [d for d in self.m.dirs if rx.fullmatch(os.path.basename(d))]

    def hash(self, h):
        return ["file|" + p for p in self.by_hash.get(h, [])]

    def full_path(self, p):
        return ["file|" + p] if p in self.m.files else []

    def duplicate_file(self, p):
        if p not in self.m.files:
            return []
        n, _md5, sha1 = self.m.files[p]
        return ["file|" + q for q in self.by_content[(sha1, n)]]

    def duplicate_dir(self, d):
        if d not in self.m.dirs:
            return []
        out = {"dir|" + s for s in self.kids[d]}
        for p in self.files_in[d]:
            n, _md5, sha1 = self.m.files[p]
            out.update("file|" + q for q in self.by_content[(sha1, n)])
        return list(out)

    def dir_detail(self, d):
        if d not in self.m.dirs:
            return []
        files = self.files_in[d]
        total = sum(size_mb(self.m.files[p][0]) for p in files)
        return ["%d|%d|%.6f" % (len(self.kids[d]), len(files), float(total))]

    def descendants(self, d):
        return [x for x in self.m.dirs if x.startswith(d + "/")]


# ---------------------------------------------------------------------------
# the search workload's operation mix

SEARCH_MIX = [  # (operation, share of the mix in percent)
    ("name", 25), ("name_dir", 10), ("hash", 15), ("full_path", 10),
    ("duplicate_file", 15), ("duplicate_dir", 10), ("dir_detail", 10),
    ("descendants", 5),
]
MISS_RATE = 0.10
# one block of the mix: 20 operations in exactly the mix's shares
BLOCK = [k for k, share in SEARCH_MIX for _ in range(share // 5)]


def _miss_hex(rng, n):
    return "".join(rng.choice("0123456789abcdef") for _ in range(n))


def search_args(seed, m, count, kinds=None):
    """`count` seeded read-only operations `{id, op, arg}`: shuffled BLOCKs
    of the mix (or `kinds` in turn). About MISS_RATE of the needles match
    nothing; half the duplicate probes land in a planted group or copied
    directory, so result sizes vary from 1 to about 50 files."""
    rng = random.Random(seed * 31 + 7)
    files = sorted(m.files)
    dirs = sorted(m.dirs)
    parents = sorted({os.path.dirname(d) for d in dirs} & m.dirs)
    dup_files = [p for g in m.dup_groups for p in g if p in m.files]
    dup_dirs = [c for _s, c in m.dup_dirs if c in m.dirs]
    order = []
    while len(order) < count:
        block = list(kinds or BLOCK)
        if not kinds:
            rng.shuffle(block)
        order += block
    ops = []
    for i, kind in enumerate(order[:count]):
        miss = rng.random() < MISS_RATE
        if kind == "name":
            base = os.path.basename(rng.choice(files))
            arg = "zz%s_*.none" % _miss_hex(rng, 6) if miss \
                else base[:rng.randint(len(base) - 6, len(base) - 3)] + "*"
        elif kind == "name_dir":
            word = os.path.basename(rng.choice(dirs)).split("_")[0]
            arg = "nodir_%s*" % _miss_hex(rng, 6) if miss else word + "_?*"
        elif kind == "hash":
            arg = _miss_hex(rng, 40) if miss \
                else m.files[rng.choice(files)][rng.choice((1, 2))]
        elif kind == "full_path":
            p = rng.choice(files)
            arg = p + ".missing" if miss else p
        elif kind == "duplicate_file":
            p = rng.choice(dup_files if dup_files and rng.random() < 0.5 else files)
            arg = p + ".missing" if miss else p
        elif kind == "duplicate_dir":
            d = rng.choice(dup_dirs if dup_dirs and rng.random() < 0.5 else dirs)
            arg = d + "_missing" if miss else d
        elif kind == "dir_detail":
            d = rng.choice(dirs)
            arg = d + "_missing" if miss else d
        else:  # descendants
            d = rng.choice(parents or dirs)
            arg = d + "_missing" if miss else d
        ops.append({"id": i, "op": kind, "arg": arg})
    return ops


# ---------------------------------------------------------------------------
# the refresh workload's mutation batches

def mutation_plan(seed, m, steps, stage_dir):
    """`steps` seeded mutation batches, each confined to its own drive's
    subtree (no two batches share a drive).

    Every batch has the same shape, so every refresh step runs the same
    rounds: modify 4 files, delete 4, add 5, and plant a duplicate of a
    file from outside the subtree. New and modified bodies are written under `stage_dir` now, so
    applying a step is a byte copy.

    Returns (plan, manifests): each plan entry carries the ops to apply and
    what the catalogue should hold after them; manifests[k] is the tree
    after step k."""
    rng = random.Random(seed * 131 + 3)
    content = Content(seed + 1000003)
    content.counter = 1 << 40  # headers never collide with the base tree's
    os.makedirs(stage_dir)
    roots = m.drives()
    cur = m.copy()
    plan, manifests = [], []
    touched = set()  # paths a step writes: on disk they still hold old bytes
    for step, sub in enumerate(rng.sample(roots, steps)):
        files_in = cur.files_in()
        in_sub = sorted(d for d in cur.dirs if d == sub or d.startswith(sub + "/"))
        sub_files = sorted(p for d in in_sub for p in files_in[d])
        ops, archived_files = [], []
        changed_dirs, changed_content = set(), 0

        def put(path, body, op):
            src = os.path.join(stage_dir, "s%d_%d" % (step, len(ops)))
            with open(src, "wb") as f:
                f.write(body)
            ops.append({"op": op, "path": path, "src": src})
            touched.add(path)
            cur.files[path] = (len(body),) + digests(body)
            changed_dirs.add(os.path.dirname(path))

        def add_file(d):
            taken = {os.path.basename(p) for p in cur.files if os.path.dirname(p) == d}
            put(os.path.join(d, _file_name(rng, taken)),
                content.fresh(rng, pick_size(rng, 0.1)), "add")

        victims = rng.sample(sub_files, 8)
        for p in victims[:4]:
            put(p, content.fresh(rng, pick_size(rng, 0.1)), "modify")
            changed_content += 1
        for p in victims[4:]:
            ops.append({"op": "delete", "path": p})
            del cur.files[p]
            archived_files.append(p)
            changed_dirs.add(os.path.dirname(p))
        for _ in range(5):
            add_file(rng.choice(in_sub))
            changed_content += 1
        # a new duplicate of a file outside the subtree that no step rewrote
        orig = rng.choice([p for p in sorted(cur.files)
                           if not p.startswith(sub + "/") and p not in touched])
        home = rng.choice(in_sub)
        taken = {os.path.basename(p) for p in cur.files if os.path.dirname(p) == home}
        dup = os.path.join(home, _file_name(rng, taken))
        with open(orig, "rb") as f:
            put(dup, f.read(), "add")
        changed_content += 1

        plan.append({
            "step": step,
            "subtree": sub,
            "ops": ops,
            "expect_files": {p: list(cur.files[p]) for p in sorted(cur.files)
                             if p.startswith(sub + "/")},
            "expect_dirs": sorted(d for d in cur.dirs
                                  if d == sub or d.startswith(sub + "/")),
            "archived_files": sorted(archived_files),
            "changed_dirs": sorted(changed_dirs),
            "changed_content": changed_content,
            "dup_probe": dup,
            "dup_expect": Catalogue(cur).expect("duplicate_file", dup),
        })
        manifests.append(cur.copy())
    return plan, manifests
