#!/usr/bin/env python3
"""Report the src/main defs that nothing reachable calls (report only, not a gate).

Builds a call graph over the compiled classes with `javap -v -p` (code,
line tables, constant pool and bootstrap methods) and prints, per source
file, every def that no root reaches.

Roots:
  * `graft.SparkEntry.registry`: every registry row's plan (its lambdas),
    the registry's name-keyed views `queries` / `oracleSql` and
    `SparkEntry.entry`, the flagship query a smoke check calls;
  * the mains: Bench, Verify, TimeQuery, Pipeline, DedupBench, ScalingEvidence;
  * every class of perfbench's sources (package `perfbench`, taken from the
    benchmark jar that perfbench/build.py writes);
  * `graft.plans.GraftExtensions`;
  * the public SQL surface `graft.spark.GeoFunctions.register`;
  * the store's maintenance verbs: `Ingest.{run, readStore, readLineage,
    completedBuckets, deleteByIds, deleteByQuery, compactBuckets,
    transformVisibilityByQuery}` and `Snapshots.{enable, enabled, versions,
    highwater, readStoreAsOf, diff, expire}` (`expire` is the only bound on
    `_snapshots` growth).

Edges:
  * invokestatic/special: the named method, else the first definition up
    the superclass chain or in a super-interface (trait default methods);
  * invokevirtual/interface: the same, plus every override in a subtype
    (class-hierarchy analysis), so a case object's members are reached
    through the sealed trait they implement;
  * invokedynamic: the method handles of the call site's bootstrap (the
    lambda bodies), not the lambda deserializer's;
  * a field access or class literal: the owner's static initializer; a
    class literal or a string naming a class also counts as a reflective
    construction (encoders, TypeTags);
  * a string `graft.x.Y.name(` in code: every `name` of `Y` (the calls
    that `doGenCode` emits into generated Java);
  * a constructed class that has a non-graft supertype: each of its methods
    that overrides a method of that supertype (Spark calls `eval`,
    `doGenCode`, `apply`, `productElement`, `equals`, ... itself). The
    supertypes' methods are read with javap from the Spark jars.

Known false positives (not reported, or to be read past):
  * static forwarders (`Ops.foo` next to `Ops$.foo`) are never called from
    Scala; only the module method is reported;
  * trait forwarders in a class that mixes in a library trait (for example
    `PredicateHelper.splitConjunctivePredicates`) are matched as overrides
    when the class is constructed, and are otherwise left out;
  * a member only reflection reaches by name (no class literal or string
    in code) reads as unreachable;
  * `graft.index` holds the reference ports that golden vectors pin; they
    are listed separately and stay even when unreachable. So do the few
    such ports in `graft.spark` named in `KEPT_PORTS`.

Usage, from the root of a checkout after `sbt compile`:

    python3 tools/reachability.py [--classes DIR] [--perfbench JAR] [--jars DIR]

`--perfbench` defaults to `.bench_build/perfbench/perfbench.jar`, built
with perfbench/build.py when it is missing; `--jars` defaults to the
`unmanagedBase` of build.sbt.
"""
import argparse
import collections
import os
import re
import subprocess
import sys
import zipfile

OWN = ("graft/", "org/apache/spark/sql/GraftBridge", "perfbench/")
NEUTRAL = {"java/lang/Object", "java/io/Serializable"}
MAGIC = {"readResolve", "writeReplace", "readObject", "writeObject", "toString",
         "equals", "hashCode", "finalize", "clone"}
INVOKE = {"invokevirtual", "invokeinterface", "invokestatic", "invokespecial"}
REF_RE = re.compile(r'^(?:"?(?P<owner>[^".:]+(?:\.[^".:]+)*?)"?\.)?"?(?P<name>[^":.]+)"?:(?P<desc>.+)$')
INSN_RE = re.compile(r'^\s+\d+: (\w+)\s+[^/]*//\s+(Method|InterfaceMethod|Field|class|String|InvokeDynamic)\s(.*)$')
CALL_STR_RE = re.compile(r'\b((?:graft|perfbench)(?:\.[A-Za-z_$][\w$]*)+)\.([A-Za-z_$][\w$]*)\s*\(')
CLASS_STR_RE = re.compile(r'\b((?:graft|perfbench)(?:\.[A-Za-z_$][\w$]*)+)')
HANDLE_RE = re.compile(r'REF_(invoke\w+|newInvokeSpecial)\s+(\S+)')
# graft.spark defs kept as reference ports pinned by the reference's own
# test vectors (KMeansDistortionMapReduceTest, DistortionGroupManagementTest)
KEPT_PORTS = {"Analytics.distortion", "Analytics.retainBestGroupCentroids"}


def own(name):
    return name.startswith(OWN)


class Method:
    __slots__ = ("name", "desc", "flags", "lines", "calls", "indys", "statics",
                 "classes", "strings")

    def __init__(self, name, desc, flags):
        self.name, self.desc, self.flags = name, desc, flags
        self.lines, self.calls, self.indys = [], [], []
        self.statics, self.classes, self.strings = set(), set(), []

    @property
    def static(self):
        return "ACC_STATIC" in self.flags


class Klass:
    def __init__(self, name):
        self.name = name
        self.source = None
        self.supers = []          # superclass first, then interfaces
        self.interface = False
        self.methods = {}         # (name, desc) -> Method
        self.bootstrap = {}       # index -> [(owner, name, desc)]
        self.lambda_bsm = set()   # bootstrap indices that are not the deserializer


def strip_generics(s):
    out, depth = [], 0
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif depth == 0:
            out.append(ch)
    return "".join(out)


def parse_header(line, k):
    """`public final class a.B extends c.D implements e.F, g.H {`"""
    h = strip_generics(line).rstrip(" {")
    k.interface = " interface " in " " + h
    m = re.search(r"\bextends\s+(.*?)(?:\s+implements\s+(.*))?$", h)
    sup = []
    if m:
        sup = [t.strip() for t in m.group(1).split(",")]
        if m.group(2):
            sup += [t.strip() for t in m.group(2).split(",")]
    else:
        m = re.search(r"\bimplements\s+(.*)$", h)
        if m:
            sup = [t.strip() for t in m.group(1).split(",")]
    k.supers = [s.replace(".", "/") for s in sup if s]


def member_name(decl, cls):
    head = decl.strip().rstrip(";")
    if head.endswith("static {}") or head == "static {}":
        return "<clinit>"
    if "(" not in head:
        return None  # a field
    name = strip_generics(head.split("(", 1)[0]).split()[-1]
    return "<init>" if name.replace(".", "/") == cls else name


def parse_ref(text, cls):
    m = REF_RE.match(text.strip())
    if not m:
        return None
    owner = m.group("owner") or cls
    return owner, m.group("name"), m.group("desc").strip()


def parse_javap(text, classes):
    """Parse the output of `javap -v -p` (one or many classes) into `classes`."""
    k = meth = src = None
    section = None
    pending_decl = None
    bsm_index = None
    for line in text.splitlines():
        if line.startswith("Classfile "):
            k, meth, section, pending_decl, src = None, None, None, None, None
            continue
        if k is None:
            s = line.strip()
            if s.startswith("Compiled from"):
                src = s.split('"')[1]
            elif not line.startswith(" ") and re.search(r"\b(class|interface|enum) \S", strip_generics(s)):
                nm = strip_generics(s).split()
                idx = next(i for i, t in enumerate(nm) if t in ("class", "interface", "enum"))
                name = nm[idx + 1].replace(".", "/")
                k = classes.setdefault(name, Klass(name))
                k.source = src
                parse_header(s, k)
            continue
        if line.startswith("{"):
            section = "members"
            continue
        if line.startswith("}"):
            section = "tail"
            meth = None
            continue
        if section == "members":
            if line.startswith("  ") and not line.startswith("    ") and line.strip():
                pending_decl = line
                meth = None
                continue
            s = line.strip()
            if s.startswith("descriptor:") and pending_decl is not None:
                nm = member_name(pending_decl, k.name)
                desc = s.split(":", 1)[1].strip()
                meth = Method(nm, desc, "") if nm else None
                if meth:
                    k.methods[(nm, desc)] = meth
                pending_decl = None
                continue
            if meth is None:
                continue
            if s.startswith("flags:"):
                meth.flags = s
                continue
            if s.startswith("line ") and ":" in s:
                meth.lines.append(int(s.split()[1].rstrip(":")))
                continue
            m = INSN_RE.match(line)
            if not m:
                continue
            op, kind, rest = m.groups()
            if kind in ("Method", "InterfaceMethod") and op in INVOKE:
                r = parse_ref(rest, k.name)
                if r:
                    meth.calls.append((op, ) + r)
            elif kind == "Field":
                r = parse_ref(rest, k.name)
                if r and op in ("getstatic", "putstatic"):
                    meth.statics.add(r[0])
            elif kind == "class":
                meth.classes.add(("ldc" if op.startswith("ldc") else op, rest.strip().strip('"')))
            elif kind == "String":
                meth.strings.append(rest)
            elif kind == "InvokeDynamic":
                mm = re.match(r"#(\d+):", rest.strip())
                if mm:
                    meth.indys.append(int(mm.group(1)))
        elif section == "tail":
            s = line.strip()
            mm = re.match(r"^(\d+): #\d+ REF_\w+ (\S+)", s)
            if mm and line.startswith("  ") and not line.startswith("    "):
                bsm_index = int(mm.group(1))
                k.bootstrap[bsm_index] = []
                if "LambdaDeserialize" not in mm.group(2):
                    k.lambda_bsm.add(bsm_index)
                continue
            hm = HANDLE_RE.search(s)
            if hm and bsm_index is not None and line.startswith("      "):
                r = parse_ref(hm.group(2), k.name)
                if r:
                    k.bootstrap[bsm_index].append(r)


def run_javap(args, what):
    out = []
    for i in range(0, len(what), 150):
        p = subprocess.run(["javap"] + args + what[i:i + 150], capture_output=True, text=True)
        out.append(p.stdout)
    return "\n".join(out)


def class_files(classes_dir):
    out = []
    for base, _, files in os.walk(classes_dir):
        out += [os.path.join(base, f) for f in files if f.endswith(".class")]
    return sorted(out)


def spark_jars(root, jars_dir):
    if not jars_dir:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(root, "build.sbt")).read())
        jars_dir = m.group(1)
    return os.pathsep.join(os.path.join(jars_dir, f) for f in sorted(os.listdir(jars_dir)) if f.endswith(".jar"))


def external_methods(types, classpath):
    """(name, desc) of every method of `types` and their supertypes, read with javap."""
    meths, supers, seen = {}, {}, set()
    todo = sorted(t for t in types if not own(t))
    while todo:
        seen.update(todo)
        text = run_javap(["-p", "-s", "-cp", classpath], [t.replace("/", ".") for t in todo])
        cur = None
        nxt = set()
        decl = None
        for line in text.splitlines():
            s = line.strip()
            if not line.startswith(" ") and re.search(r"\b(class|interface) ", s):
                nm = strip_generics(s).split()
                idx = next(i for i, t in enumerate(nm) if t in ("class", "interface"))
                cur = nm[idx + 1].replace(".", "/")
                k = Klass(cur)
                parse_header(s, k)
                supers[cur] = k.supers
                meths.setdefault(cur, set())
                nxt.update(x for x in k.supers if x not in seen)
            elif cur and s.startswith("descriptor:") and decl is not None:
                nm = member_name(decl, cur)
                if nm and nm not in ("<init>", "<clinit>"):
                    meths[cur].add((nm, s.split(":", 1)[1].strip()))
                decl = None
            elif cur and line.startswith("  ") and not line.startswith("    "):
                decl = line
        todo = sorted(nxt - seen)
    return meths, supers


def direct_subtypes(classes):
    subs = collections.defaultdict(set)
    for k in classes.values():
        for s in k.supers:
            subs[s].add(k.name)
    return subs


def main():
    root = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--classes", default=os.path.join(root, "target", "scala-2.13", "classes"))
    ap.add_argument("--perfbench", default=os.path.join(root, ".bench_build", "perfbench", "perfbench.jar"))
    ap.add_argument("--jars", default=None)
    ap.add_argument("--verbose", action="store_true", help="also list each def's line span")
    a = ap.parse_args()

    if not os.path.isdir(a.classes):
        sys.exit(f"no classes at {a.classes}: run `sbt compile` first")
    if not os.path.isfile(a.perfbench):
        sys.path.insert(0, os.path.join(root, "perfbench"))
        import build
        a.perfbench = build.build(root, os.path.dirname(a.perfbench))

    classes = {}
    parse_javap(run_javap(["-v", "-p"], class_files(a.classes)), classes)
    main_classes = set(classes)
    with zipfile.ZipFile(a.perfbench) as z:
        bench = [n[:-6].replace("/", ".") for n in z.namelist()
                 if n.startswith("perfbench/") and n.endswith(".class")]
    parse_javap(run_javap(["-v", "-p", "-cp", a.perfbench], bench), classes)

    subs = direct_subtypes(classes)

    def subtypes(t):
        out, todo = set(), [t]
        while todo:
            for c in subs.get(todo.pop(), ()):
                if c not in out:
                    out.add(c)
                    todo.append(c)
        return out

    def own_supers(c):
        out, todo = [], [c]
        while todo:
            k = classes.get(todo.pop(0))
            if k is None:
                continue
            for s in k.supers:
                if s in classes and s not in out:
                    out.append(s)
                    todo.append(s)
        return out

    ext_roots = set()
    for k in classes.values():
        for s in k.supers:
            if s not in classes:
                ext_roots.add(s)
    ext_meths, ext_supers = external_methods(ext_roots | {"java/lang/Object"}, spark_jars(root, a.jars))

    def ext_closure(t):
        out, todo = set(), [t]
        while todo:
            x = todo.pop()
            if x in out:
                continue
            out.add(x)
            todo += ext_supers.get(x, [])
        return out

    def overridable(c):
        """(name, desc) that library code may call on an instance of `c`."""
        types = set()
        for x in [c] + own_supers(c):
            for s in classes[x].supers if x in classes else []:
                if s not in classes and s not in NEUTRAL:
                    types |= ext_closure(s)
        sigs = set()
        for t in types | {"java/lang/Object"}:
            sigs |= ext_meths.get(t, set())
        return sigs

    def resolve(owner, name, desc):
        for c in [owner] + own_supers(owner):
            k = classes.get(c)
            if k and (name, desc) in k.methods:
                return [(c, name, desc)]
        return []

    reached = set()
    constructed = set()
    todo = []

    def reach(key):
        if key not in reached and key[0] in classes and (key[1], key[2]) in classes[key[0]].methods:
            reached.add(key)
            todo.append(key)

    def touch_class(c):
        k = classes.get(c)
        if k:
            for (n, d) in k.methods:
                if n == "<clinit>":
                    reach((c, n, d))

    def construct(c):
        if c in constructed or c not in classes:
            return
        constructed.add(c)
        sigs = overridable(c)
        for x in [c] + own_supers(c):
            for (n, d), m in classes[x].methods.items():
                if not m.static and ((n, d) in sigs or n in MAGIC):
                    reach((x, n, d))

    def all_named(c, name):
        for cc in (c, c + "$"):
            k = classes.get(cc)
            if k:
                for (n, d) in k.methods:
                    if n == name:
                        reach((cc, n, d))

    def all_ctors(c):
        k = classes.get(c)
        if k:
            for (n, d) in k.methods:
                if n == "<init>":
                    reach((c, n, d))

    # roots
    for m in ("Bench", "Verify", "TimeQuery", "Pipeline", "DedupBench", "ScalingEvidence"):
        all_named("graft/" + m + "$", "main")
    all_named("graft/SparkEntry$", "registry")
    for v in ("entry", "queries", "oracleSql"):
        all_named("graft/SparkEntry$", v)
    all_named("graft/spark/GeoFunctions$", "register")
    for v in ("run", "readStore", "readLineage", "completedBuckets", "deleteByIds",
              "deleteByQuery", "compactBuckets", "transformVisibilityByQuery"):
        all_named("graft/spark/Ingest$", v)
    for v in ("enable", "enabled", "versions", "highwater", "readStoreAsOf", "diff", "expire"):
        all_named("graft/spark/Snapshots$", v)
    for c in list(classes):
        if c.startswith("perfbench/") or c == "graft/plans/GraftExtensions":
            for (n, d) in classes[c].methods:
                reach((c, n, d))

    while todo:
        c, n, d = todo.pop()
        k = classes[c]
        m = k.methods[(n, d)]
        touch_class(c)
        if n == "<init>":
            construct(c)
        for op, owner, name, desc in m.calls:
            for key in resolve(owner, name, desc):
                reach(key)
            if op in ("invokevirtual", "invokeinterface"):
                for s in subtypes(owner):
                    reach((s, name, desc))
        for i in m.indys:
            if i in k.lambda_bsm:
                for key in k.bootstrap.get(i, []):
                    for r in resolve(*key):
                        reach(r)
        for owner in m.statics:
            touch_class(owner)
        for op, cname in m.classes:
            touch_class(cname)
            if op == "ldc":
                all_ctors(cname)
        for s in m.strings:
            for cm in CALL_STR_RE.finditer(s):
                all_named(cm.group(1).replace(".", "/"), cm.group(2))
            for cm in CLASS_STR_RE.finditer(s):
                all_ctors(cm.group(1).replace(".", "/"))

    report(classes, main_classes, reached, a.verbose)


def base_def(name):
    """The source def a compiler-made method belongs to, or None to skip it."""
    if name in ("<clinit>", "$deserializeLambda$") or name.startswith("$init$"):
        return None
    m = re.match(r"^\$anonfun\$(.+?)\$\d+(?:\$.*)?$", name)
    if m:
        name = m.group(1)
    name = re.sub(r"\$adapted$", "", name)
    name = re.sub(r"\$lzycompute$", "", name)
    name = re.sub(r"\$default\$\d+$", "", name)
    name = re.sub(r"\$default$", "", name)
    return name


CASE_CLASS = {"equals", "hashCode", "toString", "productArity", "productElement", "productElementName",
              "productElementNames", "productIterator", "productPrefix", "canEqual", "copy"}
COMPANION = {"apply", "unapply", "toString", "tupled", "curried", "$lessinit$greater"}
LOCAL_DEF = re.compile(r"^[^$].*\$\d+$")


def report(classes, main_classes, reached, verbose):
    live = {c for c in classes if any((c, n, d) in reached for (n, d) in classes[c].methods)}
    subs = direct_subtypes(classes)

    def live_type(c):
        """A class, its companion or (for a trait) an implementation has a reached method."""
        todo, seen = [c], set()
        while todo:
            x = todo.pop()
            if x in seen:
                continue
            seen.add(x)
            if x in live or x.rstrip("$") in live or x.rstrip("$") + "$" in live:
                return True
            if classes.get(x) and classes[x].interface:
                todo += subs.get(x, ())
        return False

    def product(c):
        """A case class: the compiler wrote its Product members."""
        return c in classes and any(n == "productElement" for (n, _) in classes[c].methods)

    live_defs = {(c.rstrip("$"), base_def(n)) for (c, n, d) in reached}
    by_file = collections.defaultdict(dict)   # file -> label -> [lines]
    dead_classes = collections.defaultdict(set)
    local = []   # (file, label, lines) of local defs and anonymous classes
    for c in sorted(main_classes):
        k = classes[c]
        path = os.path.join(os.path.dirname(c), k.source or "?")
        label_c = c.rsplit("/", 1)[1].rstrip("$").replace("$", ".")
        if not live_type(c):
            lines = [l for m in k.methods.values() for l in m.lines]
            if "$$" in c:   # a TypeTag creator or anonymous class: part of its def
                local.append((path, label_c, lines))
                continue
            by_file[path].setdefault(label_c, []).extend(lines)
            dead_classes[path].add(label_c)
            continue
        module = c.endswith("$")
        synth = set()
        if product(c):
            synth |= CASE_CLASS | COMPANION
        if module and product(c.rstrip("$")):
            synth |= COMPANION
        for (n, d), m in k.methods.items():
            if (c, n, d) in reached or "ACC_BRIDGE" in m.flags:
                continue
            b = base_def(n)
            if b is None or b == "<init>" or b in synth or b in ("writeReplace", "readResolve"):
                continue
            if (c.rstrip("$"), b) in live_defs:
                continue
            if m.static and not module and (c + "$") in classes:
                continue  # static forwarder of the module's method
            if "ACC_SYNTHETIC" in m.flags and not n.startswith("$anonfun$"):
                continue
            if LOCAL_DEF.match(b):
                local.append((path, label_c + "." + b, m.lines))
                continue
            by_file[path].setdefault(label_c + "." + b, []).extend(m.lines)
    # a local def (`name$1`) or anonymous class belongs to the def whose lines hold it
    for path, label, lines in local:
        home = next((l for l, ls in by_file[path].items() if ls and lines
                     and min(ls) <= min(lines) and max(lines) <= max(ls)), label)
        by_file[path].setdefault(home, []).extend(lines)

    def span(lines):
        return (max(lines) - min(lines) + 1) if lines else 0

    def kept(p, label):
        return p.startswith("graft/index/") or label in KEPT_PORTS

    sections = (("reference ports (kept)", kept),
                ("everything else", lambda p, label: not kept(p, label)))
    summary = []
    for title, keep in sections:
        print(f"== {title}")
        n_defs = n_lines = 0
        for f in sorted(by_file):
            labels = sorted((l, ls) for l, ls in by_file[f].items() if keep(f, l))
            if not labels:
                continue
            print(f)
            for label, lines in labels:
                kind = "class " if label in dead_classes[f] else ""
                where = f" (lines {min(lines)}-{max(lines)})" if (verbose and lines) else ""
                print(f"  {kind}{label}  ~{span(lines)} code lines{where}")
                n_defs += 1
                n_lines += span(lines)
        summary.append((title, n_defs, n_lines))
    print("== summary (code lines are line-table spans: docs and blank lines excluded)")
    for title, n, l in summary:
        print(f"  {title}: {n} defs, ~{l} code lines")


if __name__ == "__main__":
    main()
