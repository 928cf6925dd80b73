#!/usr/bin/env python3
"""Library surface gate: every public member of a top-level
`graft.{ops,sources,functions,streaming,expressions}` object must have
a caller outside the specs, or an allowlist entry saying why not.

Run it from the repo root after `sbt compile`:

    python3 tools/check_surface.py [classes-dir]

It reads the compiled classes (default `target/scala-2.13/classes`),
not the sources, so overloads and same-named instance members cannot
be confused with the object's own members. A member `name` of object
`X` (module class `X$`) counts as reached when either

  * compiled `src/main` code invokes `X$.name` (Methodref or
    InterfaceMethodref), from anywhere except the static forwarder
    `X.name` the compiler emits for it. Calls from inside `X` count: a
    helper the library itself calls is not a spec-only entry point;
  * it is the target of a method handle, or a string constant names
    `graft.<pkg>.X.name` (generated Java code calls kernels that way);
  * `perfbench/src` (a separate sbt build that sees the library only
    through qualified names) names it as `X.name`.

Skipped: non-public, synthetic and bridge methods, names holding `$`,
constructors, overrides of inherited generic members (they have a
bridge twin) and `apply`/`unapply`/`toString` of a case-class
companion.

Exit 1 on an unreached member that is not allowlisted, and on a stale
allowlist entry (one that is now reached or no longer exists).
"""
import collections
import os
import re
import struct
import sys

PACKAGES = ("ops", "sources", "functions", "streaming", "expressions")
PERFBENCH_SRC = "perfbench/src"

# (object, member) -> (reason, where). A reason is one of:
#   (a) reference twin: a named spec compares a graded kernel against it;
#   (b) streaming tier: the stream verbs ROADMAP item 5 instruments;
#   (c) store protocol: a verb StoreProtocolSpec drives for every store;
#   (d) fixture writer: specs build their inputs with it.
TWIN, STREAMING, PROTOCOL, FIXTURE = "a", "b", "c", "d"
ALLOW = {
    ("Dedup", "minhashSignatureExploded"): (TWIN, "DedupSpec: native minhash == exploded pipeline"),
    ("Dedup", "simhashExploded"): (TWIN, "DedupSpec: native simhash == exploded vote pipeline"),
    ("Ensemble", "fitWeights"): (TWIN, "EnsembleSpec: the reference's ensemble.py fit over gramAgg + ridgeSolve"),
    ("Fold", "foldAggConvGrid"): (TWIN, "RefScaleSpec: Catalyst HOF ConvGRU == foldTypedConvGrid"),
    ("Pq", "ivfAssignedWithHof"): (TWIN, "PqExprSpec: graft_ivf_cell == HOF assignment"),
    ("Pq", "rotatedByHof"): (TWIN, "PqExprSpec: graft_matvec == HOF rotation"),
    ("Pq", "scoredQHof"): (TWIN, "PqExprSpec: graft_pq_score == HOF scoredQ"),
    ("TopN", "topNPerGroup"): (TWIN, "SkewSpec: window twin of topNPerGroupAgg"),
    ("Udafs", "roundedMse"): (TWIN, "UdafBinarySpec: typed twin of a6_mse_family's rounded_mse"),
    ("Udafs", "weightedMse"): (TWIN, "UdafBinarySpec: typed twin of a6_mse_family's mse"),
    ("text", "htmlExtractComposed"): (TWIN, "ScalarsSpec: graft_html_extract == regex-chain twin"),
    ("text", "normalizeComposed"): (TWIN, "ScalarsSpec: graft_normalize == regex-composed twin"),
    ("vectors", "cosineComposed"): (TWIN, "DotExprSpec: fused cosine == 3-pass composed cosine"),
    ("vectors", "dotHof"): (TWIN, "DotExprSpec: native dot == HOF dot"),
    ("AnnIndex", "searchStream"): (STREAMING, "AnnStreamSpec, VersionedStoreSpec"),
    ("AnnIndex", "serveStream"): (STREAMING, "VersionedStoreSpec"),
    ("Bpe", "encodeStream"): (STREAMING, "TextPipelineSpec"),
    ("CrawlStream", "ingestWarc"): (STREAMING, "WarcSpec, TakedownSpec"),
    ("DedupIndex", "ingestStream"): (STREAMING, "DedupSpec"),
    ("DedupIndex", "serveStream"): (STREAMING, "VersionedStoreSpec"),
    ("Fold", "foldStreaming"): (STREAMING, "FoldStreamSpec"),
    ("Fold", "foldStreamingTtl"): (STREAMING, "FoldStreamSpec"),
    ("LineStore", "scrubStream"): (STREAMING, "DedupSpec"),
    ("LineStore", "serveStream"): (STREAMING, "VersionedStoreSpec"),
    ("SemDedupStore", "ingestStream"): (STREAMING, "SemDedupStoreSpec"),
    ("SemDedupStore", "serveStream"): (STREAMING, "SemDedupStoreSpec"),
    ("Sketches", "ingestStream"): (STREAMING, "ApproxSpec"),
    ("Streaming", "anomalyFlagsStream"): (STREAMING, "FoldStreamSpec"),
    ("Streaming", "sessionizeStream"): (STREAMING, "FoldStreamSpec, FileStreamSpec"),
    ("LineStore", "compact"): (PROTOCOL, "StoreProtocolSpec compact verb"),
    ("SemDedupStore", "compact"): (PROTOCOL, "StoreProtocolSpec compact verb"),
    ("SemDedupStore", "takedown"): (PROTOCOL, "StoreProtocolSpec writer verb"),
    ("Sketches", "compact"): (PROTOCOL, "StoreProtocolSpec compact verb"),
    ("Multimodal", "packGifFramesImageIO"): (FIXTURE, "MultimodalSinksSpec: ImageIO-encoded GIF inputs"),
}

ACC_PUBLIC, ACC_STATIC, ACC_BRIDGE, ACC_SYNTHETIC = 0x0001, 0x0008, 0x0040, 0x1000
CASE_COMPANION = {"apply", "unapply", "toString"}


# Operand bytes per opcode, for the opcodes that take any; 0xaa/0xab
# (switches) and 0xc4 (wide) are variable and decoded inline.
OPERANDS = {0x10: 1, 0x11: 2, 0x12: 1, 0x13: 2, 0x14: 2, 0x84: 2, 0xa9: 1,
            0xb9: 4, 0xba: 4, 0xbc: 1, 0xc5: 3, 0xc8: 4, 0xc9: 4}
OPERANDS.update({op: 1 for op in range(0x15, 0x1a)})
OPERANDS.update({op: 1 for op in range(0x36, 0x3b)})
OPERANDS.update({op: 2 for op in list(range(0x99, 0xa9)) + list(range(0xb2, 0xb9))
                 + [0xbb, 0xbd, 0xc0, 0xc1, 0xc6, 0xc7]})
INVOKES = (0xb6, 0xb7, 0xb8, 0xb9)


def invoked(code):
    """Constant pool indices of the methods a Code body invokes."""
    out, pc = [], 0
    while pc < len(code):
        op = code[pc]
        if op in INVOKES:
            out.append(struct.unpack_from(">H", code, pc + 1)[0])
        if op in (0xaa, 0xab):
            pad = pc + 4 - pc % 4
            if op == 0xaa:
                lo, hi = struct.unpack_from(">ii", code, pad + 4)
                pc = pad + 12 + 4 * (hi - lo + 1)
            else:
                pc = pad + 8 + 8 * struct.unpack_from(">i", code, pad + 4)[0]
        elif op == 0xc4:
            pc += 6 if code[pc + 1] == 0x84 else 4
        else:
            pc += 1 + OPERANDS.get(op, 0)
    return out


class ClassFile:
    """The parts of a JVM class file this gate reads: its name, its
    methods, the methods each one invokes, the method handles it holds
    and its string constants."""

    def __init__(self, data):
        self.data, self.pos = data, 8  # magic + version
        count = self.u2()
        cp = self.cp = [None] * count
        i = 1
        while i < count:
            tag = self.u1()
            if tag == 1:
                n = self.u2()
                cp[i] = self.data[self.pos:self.pos + n].decode("utf-8", "replace")
                self.pos += n
            elif tag in (3, 4):
                self.pos += 4
            elif tag in (5, 6):
                self.pos += 8
                i += 1
            elif tag in (7, 8, 16, 19, 20):
                cp[i] = (tag, self.u2())
            elif tag in (9, 10, 11, 12, 17, 18):
                cp[i] = (tag, self.u2(), self.u2())
            elif tag == 15:
                cp[i] = (tag, self.u1(), self.u2())
            else:
                raise ValueError(f"unknown constant pool tag {tag}")
            i += 1
        self.u2()  # access flags
        self.name = self.class_name(self.u2())
        self.pos += 2  # super class
        interfaces = self.u2()
        self.pos += 2 * interfaces
        self.members()  # fields
        self.methods = self.members()
        self.handles = {self.method_ref(e[2]) for e in cp
                        if isinstance(e, tuple) and e[0] == 15 and cp[e[2]][0] in (10, 11)}
        self.strings = [cp[e[1]] for e in cp if isinstance(e, tuple) and e[0] == 8]

    def u1(self):
        self.pos += 1
        return self.data[self.pos - 1]

    def u2(self):
        self.pos += 2
        return struct.unpack_from(">H", self.data, self.pos - 2)[0]

    def class_name(self, index):
        return self.cp[self.cp[index][1]]

    def method_ref(self, index):
        _, owner, nat = self.cp[index]
        return self.class_name(owner), self.cp[self.cp[nat][1]]

    def members(self):
        """(flags, name, invoked (owner, name) pairs) per member."""
        out = []
        for _ in range(self.u2()):
            flags, name = self.u2(), self.cp[self.u2()]
            self.u2()  # descriptor
            calls = set()
            for _ in range(self.u2()):
                attr = self.cp[self.u2()]
                n = struct.unpack_from(">I", self.data, self.pos)[0]
                if attr == "Code":
                    code_len = struct.unpack_from(">I", self.data, self.pos + 8)[0]
                    code = self.data[self.pos + 12:self.pos + 12 + code_len]
                    calls = {self.method_ref(i) for i in invoked(code)}
                self.pos += n + 4
            out.append((flags, name, calls))
        return out


def load_classes(root):
    classes = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".class"):
                with open(os.path.join(d, f), "rb") as fh:
                    c = ClassFile(fh.read())
                classes[c.name] = c
    return classes


def surface(classes):
    """Public members of each top-level library object, as
    (object, member) -> the module's internal class name."""
    out = {}
    for name, c in classes.items():
        m = re.fullmatch(r"graft/(%s)/([A-Za-z0-9_]+)\$" % "|".join(PACKAGES), name)
        if not m:
            continue
        companion = classes.get(name[:-1])
        case = companion is not None and any(n == "productPrefix" for _, n, _ in companion.methods)
        # A bridge twin marks an override of an inherited generic member
        # (`HoistPathExprs.apply` of `Rule`): callers reach it virtually.
        bridged = {n for f, n, _ in c.methods if f & ACC_BRIDGE}
        for flags, member, _ in c.methods:
            if (not flags & ACC_PUBLIC or flags & (ACC_BRIDGE | ACC_SYNTHETIC)
                    or "$" in member or member.startswith("<") or member in bridged
                    or (case and member in CASE_COMPANION)):
                continue
            out[(m.group(2), member)] = name
    return out


def main_refs(classes):
    """(module, member) pairs that compiled src/main code reaches: by an
    invoke from anywhere but a static forwarder, by a method handle, or
    by name in a string (generated Java code calls
    `graft.expressions.X.kernel(...)`)."""
    reached = set()
    named = re.compile(r"\bgraft\.(?:%s)\.[A-Za-z0-9_]+\.[A-Za-z0-9_]+" % "|".join(PACKAGES))
    for name, c in classes.items():
        for flags, method, calls in c.methods:
            forwarder = flags & ACC_STATIC and (name + "$", method) in calls
            reached |= {call for call in calls if not (forwarder and call[1] == method)}
        reached |= c.handles
        for s in c.strings:
            for q in named.findall(s):
                owner, member = q.replace(".", "/").rsplit("/", 1)
                reached.add((owner + "$", member))
    return reached


def perfbench_names():
    names = set()
    for d, _, files in os.walk(PERFBENCH_SRC):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f)) as fh:
                    src = fh.read()
                names |= set(re.findall(r"\b([A-Za-z0-9_]+)\.([A-Za-z0-9_]+)\b", src))
    return names


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "target/scala-2.13/classes"
    if not os.path.isdir(os.path.join(root, "graft")):
        print(f"no compiled library under {root}: run `sbt compile` first")
        return 1
    classes = load_classes(root)
    members = surface(classes)
    reached = main_refs(classes)
    bench = perfbench_names()
    unreached = sorted(k for k, module in members.items()
                       if (module, k[1]) not in reached and k not in bench)

    bad_reason = sorted(f"{o}.{m}" for (o, m), (r, _) in ALLOW.items()
                        if r not in (TWIN, STREAMING, PROTOCOL, FIXTURE))
    unlisted = [f"{o}.{m}" for o, m in unreached if (o, m) not in ALLOW]
    gone = sorted(f"{o}.{m}" for o, m in ALLOW if (o, m) not in members)
    now_reached = sorted(f"{o}.{m}" for o, m in ALLOW
                         if (o, m) in members and (o, m) not in unreached)
    by_reason = collections.Counter(r for r, _ in ALLOW.values())
    print(f"{len(members)} public members of graft.{{{','.join(PACKAGES)}}} "
          f"objects; {len(unreached)} with no caller outside specs, "
          f"{len(ALLOW)} allowlisted "
          f"({', '.join(f'{r}: {n}' for r, n in sorted(by_reason.items()))})")
    for label, names in (("UNREACHED (no caller outside specs) and not allowlisted", unlisted),
                         ("STALE ALLOWLIST (member no longer exists)", gone),
                         ("STALE ALLOWLIST (member is now reached)", now_reached),
                         ("ALLOWLIST REASON NOT ONE OF a-d", bad_reason)):
        if names:
            print(label + ":")
            for n in names:
                print(f"  {n}")
    return 1 if unlisted or gone or now_reached or bad_reason else 0


if __name__ == "__main__":
    sys.exit(main())
