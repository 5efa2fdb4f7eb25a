#!/usr/bin/env python3
"""Which compiled methods of src/main can a run of the program reach?

Walks the call graph of the compiled classes from the program's entry points
and reports every method no entry point reaches, split into

  test-only  reached once every method of the test classes is also a root;
  dead       reached by neither a main nor a test.

Input is bytecode, read with the JDK's `javap` (nothing else is needed):
  target/scala-2.13/classes             src/main
  servebench/target/scala-2.13/classes  the served benchmark (roots only)
  target/scala-2.13/test-classes        the tests (test-only roots)
Build them first with `sbt Test/compile` and `cd servebench && sbt compile`.

Roots: graft.Bench.main, graft.Verify.main, graft.servebench.ServeBench.main,
and the driver contract SparkEntry.entry / queries / oracleSql.

The graph over-approximates liveness, so what it reports unreachable is a
lower bound:
  - a virtual or interface call reaches the method in the named class, the
    definition it inherits, and every override in a project subclass;
  - reaching any method of a class runs that class's static initialiser;
  - an invokedynamic reaches the implementation method its
    LambdaMetafactory bootstrap names;
  - in a class whose constructor is reached, every method that overrides a
    method of a Spark, Scala or JDK supertype is live (the library calls it);
  - case-class members (constructor, field accessors, the generated
    Product/equals/copy members, companion apply/unapply) are live, since
    encoders reach them by reflection;
  - JVM serialisation hooks (readResolve, writeReplace,
    $deserializeLambda$) are live.

Static forwarders of a Scala object's mirror class and compiler-generated
bridges are folded into the methods they forward to and not listed.

An executable line is one with bytecode (a LineNumberTable entry). The report
gives every class of src/main with its executable lines and how many of them
only unreachable methods hold, then each unreachable method of the class with
its status and line count, and a summary line last.

Usage:
  python3 tools/reachability.py [--repo DIR] [--classpath CP]

The exit status is 1 when a method of src/main is dead, so the script can
gate a build.
"""
import argparse
import glob
import os
import re
import subprocess
import sys
from collections import defaultdict

ROOTS = [
    ("graft.Bench", "main"), ("graft.Bench$", "main"),
    ("graft.Verify", "main"), ("graft.Verify$", "main"),
    ("graft.servebench.ServeBench", "main"),
    ("graft.servebench.ServeBench$", "main"),
    ("graft.SparkEntry$", "entry"), ("graft.SparkEntry$", "queries"),
    ("graft.SparkEntry$", "oracleSql"),
]
ALWAYS_LIVE = {"readResolve", "writeReplace", "$deserializeLambda$"}
CASE_MEMBERS = {
    "productArity", "productElement", "productPrefix", "productIterator",
    "productElementName", "productElementNames", "canEqual", "equals",
    "hashCode", "toString", "copy", "apply", "unapply", "tupled", "curried",
}
CASE_MEMBER_RE = re.compile(r"^(copy\$default\$\d+|_\d+|apply\$default\$\d+|"
                            r"\$lessinit\$greater\$default\$\d+)$")
LAMBDA_BODY = re.compile(r"^\$anonfun\$(.+?)\$\d+(?:\$adapted)?$")
DEFAULT_GETTER = re.compile(r"^(.+)\$default\$\d+$")
LAMBDA_BOOTSTRAPS = ("java/lang/invoke/LambdaMetafactory",)
# `spark.sql.extensions` names a SparkSessionExtensions => Unit class, which
# Spark constructs by reflection
SPARK_EXTENSION = "(Lorg/apache/spark/sql/SparkSessionExtensions;)V"

CLASS_HDR = re.compile(
    r"^(?:[\w ]*?)(class|interface|enum) (\S+?)(?: extends (.+?))?(?: implements (.+?))?\s*(?:\{)?$")
INVOKE = re.compile(r"//\s+(?:Method|InterfaceMethod)\s+(.+)$")
INDY = re.compile(r"//\s+InvokeDynamic\s+#(\d+):")
FIELD = re.compile(r"//\s+Field\s+(\S+)$")
LINE = re.compile(r"^\s+line (\d+): \d+$")
BSM = re.compile(r"^\s+(\d+): #\d+ REF_\w+ (\S+)")
MH_ARG = re.compile(r"REF_\w+ (\S+)$")


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


def member_name(line):
    """The method name a javap member line declares, or None for a field."""
    s = strip_generics(line.strip())
    if "(" not in s:
        return None
    return s.split("(")[0].split()[-1]


def split_ref(ref, owner):
    """`pkg/C.name:desc`, `name:desc` or quoted forms -> (class, name, desc)."""
    ref = ref.replace('"', "")
    m = re.match(r"^(?:(.+)\.)?([^.:]+):(.+)$", ref)
    if not m:
        return None
    cls = m.group(1).replace("/", ".") if m.group(1) else owner
    return cls, m.group(2), m.group(3)


class Method:
    __slots__ = ("cls", "name", "desc", "flags", "calls", "indys", "fields", "lines")

    def __init__(self, cls, name):
        self.cls, self.name, self.desc, self.flags = cls, name, "", ""
        self.calls, self.indys, self.fields, self.lines = [], [], [], set()

    @property
    def key(self):
        return (self.cls, self.name, self.desc)


class Klass:
    def __init__(self, name, origin):
        self.name, self.origin = name, origin
        self.supers, self.source = [], ""
        self.methods = {}     # (name, desc) -> Method
        self.bootstraps = {}  # index -> [(cls, name, desc)] of a lambda, else None
        self.fields = set()


def javap(args, files, cp=None, strict=True):
    """javap over `files` in batches; `strict` fails on any error (an
    external supertype missing from the classpath is not one)."""
    out = []
    for i in range(0, len(files), 200):
        cmd = ["javap"] + (["-cp", cp] if cp else []) + args + files[i:i + 200]
        r = subprocess.run(cmd, capture_output=True, text=True)
        if strict and r.returncode != 0:
            sys.exit(f"javap failed: {r.stderr.strip()[:500]}")
        out.append(r.stdout)
    return "\n".join(out)


def parse_verbose(text, origin, classes):
    """Parse `javap -c -p -v -l` output into Klass records."""
    k, m, section = None, None, None
    bsm_idx = None
    for raw in text.splitlines():
        line = raw.rstrip()
        if line.startswith("Classfile "):
            k, m, section = None, None, "header"
            continue
        if section == "header":
            if line.startswith("  Compiled from"):
                continue
            hdr = CLASS_HDR.match(strip_generics(line))
            if hdr and not line.startswith(" "):
                name = hdr.group(2)
                k = classes[name] = Klass(name, origin)
                for grp in (hdr.group(3), hdr.group(4)):
                    if grp:
                        k.supers += [s.strip() for s in grp.split(",") if s.strip()]
                section = "class"
            continue
        if k is None:
            continue
        if line == "{":
            section = "members"
            continue
        if section == "members":
            if line == "}":
                section, m = "trailer", None
                continue
            if line.startswith("  ") and not line.startswith("   "):
                name = member_name(line)
                if name == k.name:
                    m = Method(k.name, "<init>")
                elif name:
                    m = Method(k.name, name)
                elif line.strip().endswith("static {};"):
                    m = Method(k.name, "<clinit>")
                else:
                    fname = line.rstrip(";").split()[-1]
                    k.fields.add(fname)
                    m = None
                continue
            if m is None:
                continue
            s = line.strip()
            if s.startswith("descriptor: "):
                m.desc = s[len("descriptor: "):]
                k.methods[(m.name, m.desc)] = m
            elif s.startswith("flags: "):
                m.flags = s
            else:
                inv = INVOKE.search(line)
                if inv:
                    ref = split_ref(inv.group(1), k.name)
                    if ref:
                        m.calls.append(ref)
                    continue
                indy = INDY.search(line)
                if indy:
                    m.indys.append(int(indy.group(1)))
                    continue
                fld = FIELD.search(line)
                if fld:
                    ref = split_ref(fld.group(1), k.name)
                    if ref:
                        m.fields.append(ref[0])
                    continue
                ln = LINE.match(line)
                if ln:
                    m.lines.add(int(ln.group(1)))
            continue
        if section == "trailer":
            if line.startswith("SourceFile: "):
                k.source = line.split('"')[1]
            elif line.startswith("BootstrapMethods:"):
                section = "bsm"
            continue
        if section == "bsm":
            b = BSM.match(line)
            if b:
                bsm_idx = int(b.group(1))
                is_lambda = b.group(2).startswith(LAMBDA_BOOTSTRAPS)
                k.bootstraps[bsm_idx] = [] if is_lambda else None
                continue
            arg = MH_ARG.search(line)
            if arg and bsm_idx is not None and k.bootstraps.get(bsm_idx) is not None:
                ref = split_ref(arg.group(1), k.name)
                if ref:
                    k.bootstraps[bsm_idx].append(ref)


def external_members(names, cp):
    """name+descriptor of every non-private method of the external supertype
    closure of `names` (Spark, Scala, JDK), via `javap -s`."""
    members, seen, todo = set(), set(), set(names)
    while todo:
        batch = sorted(todo)
        seen |= todo
        todo = set()
        text = javap(["-s"], batch, cp, strict=False)
        last = None
        for raw in text.splitlines():
            if not raw.startswith(" "):
                hdr = CLASS_HDR.match(strip_generics(raw.rstrip()))
                if hdr:
                    for grp in (hdr.group(3), hdr.group(4)):
                        if grp:
                            todo |= {s.strip() for s in grp.split(",") if s.strip()}
                continue
            s = raw.strip()
            if s.startswith("descriptor: ") and last:
                members.add((last, s[len("descriptor: "):]))
                last = None
            else:
                name = member_name(s)
                last = name.split(".")[-1] if name else None
        todo -= seen
    return members


class Graph:
    def __init__(self, classes, ext_members):
        self.classes = classes
        self.ext = ext_members
        self.subs = defaultdict(set)
        for k in classes.values():
            for s in k.supers:
                self.subs[s].add(k.name)
        self.live = set()
        self.work = []
        self.instantiated = set()

    def project_supers(self, name):
        out, todo = [], [name]
        while todo:
            c = todo.pop()
            k = self.classes.get(c)
            if k is None:
                continue
            out.append(k)
            todo += k.supers
        return out

    def subclasses(self, name):
        out, todo = set(), [name]
        while todo:
            c = todo.pop()
            for s in self.subs.get(c, ()):
                if s not in out:
                    out.add(s)
                    todo.append(s)
        return out

    def mark(self, key):
        if key not in self.live:
            self.live.add(key)
            self.work.append(key)

    def mark_class(self, cname):
        k = self.classes.get(cname)
        if k is None:
            return
        for (n, d) in list(k.methods):
            if n == "<clinit>":
                self.mark((cname, n, d))

    def resolve(self, cls, name, desc):
        """Targets of a call to cls.name:desc: every definition up the
        hierarchy plus every project override below it."""
        targets = []
        for k in self.project_supers(cls):
            if (name, desc) in k.methods:
                targets.append((k.name, name, desc))
        if name not in ("<init>", "<clinit>"):
            for sub in self.subclasses(cls):
                sk = self.classes[sub]
                if (name, desc) in sk.methods:
                    targets.append((sub, name, desc))
        return targets

    def instantiate(self, cname):
        if cname in self.instantiated:
            return
        self.instantiated.add(cname)
        for k in self.project_supers(cname):
            for (n, d), m in k.methods.items():
                if (n, d) in self.ext:
                    self.mark(m.key)

    def run(self, roots):
        for r in roots:
            self.mark(r)
        while self.work:
            key = self.work.pop()
            cname, name, desc = key
            k = self.classes.get(cname)
            if k is None:
                continue
            m = k.methods.get((name, desc))
            if m is None:
                continue
            self.mark_class(cname)
            if name == "<init>":
                self.instantiate(cname)
            for (c, n, d) in m.calls:
                self.mark_class(c)
                for t in self.resolve(c, n, d):
                    self.mark(t)
            for c in m.fields:
                self.mark_class(c)
            for idx in m.indys:
                for (c, n, d) in k.bootstraps.get(idx) or ():
                    self.mark_class(c)
                    for t in self.resolve(c, n, d):
                        self.mark(t)
                    if n == "<init>":
                        self.instantiate(c)
        return self.live


def is_case_class(k):
    return ("productArity", "()I") in k.methods and ("canEqual", "(Ljava/lang/Object;)Z") in k.methods


def always_live(classes):
    """Members the JVM, Spark's encoders or Spark's conf loader reach by
    reflection."""
    cases = {k.name for k in classes.values() if is_case_class(k)}
    keys = []
    for k in classes.values():
        case = k.name in cases
        for (n, d), m in k.methods.items():
            if (n in ALWAYS_LIVE
                    or case and (n in CASE_MEMBERS or CASE_MEMBER_RE.match(n) or n == "<init>"
                                 or (d.startswith("()") and n in k.fields))
                    or n in ("apply", "unapply")
                    and any(f"L{c.replace('.', '/')};" in d for c in cases)
                    or n == "<init>" and any(d2 == SPARK_EXTENSION for (_, d2) in k.methods)):
                keys.append(m.key)
    return keys


def folded_into(k, m, classes):
    """The method whose liveness a compiler-generated member shares, or None.

    A lambda body `$anonfun$f$N` belongs to `f`; a default-argument getter
    to its method (to the constructor for `$lessinit$greater$default$N`);
    class initialisation (`<clinit>`, an object's `<init>()V`) to its
    class; a mirror-class static forwarder or a bridge to the method it
    forwards to. These are not listed."""
    lm = LAMBDA_BODY.match(m.name)
    if lm and any(n == lm.group(1) for (n, _) in k.methods):
        return [o.key for (n, _), o in k.methods.items() if n == lm.group(1)]
    dm = DEFAULT_GETTER.match(m.name)
    if dm:
        owner, name = k, dm.group(1)
        if name == "$lessinit$greater":
            owner, name = classes.get(k.name[:-1]) if k.name.endswith("$") else None, "<init>"
        if owner is None:
            return ()
        return [o.key for (n, _), o in owner.methods.items() if n == name]
    if m.name == "<clinit>" or (m.name == "<init>" and m.desc == "()V" and "MODULE$" in k.fields):
        return [o.key for (n, _), o in k.methods.items() if n not in ("<clinit>", "<init>")]
    if "ACC_BRIDGE" in m.flags:
        return [o.key for (n, d), o in k.methods.items()
                if n == m.name and o is not m and "ACC_BRIDGE" not in o.flags]
    mod = classes.get(k.name + "$")
    if "ACC_STATIC" in m.flags and mod is not None and (m.name, m.desc) in mod.methods:
        return [mod.methods[(m.name, m.desc)].key]
    return None


def load(dirs):
    classes = {}
    for origin, d in dirs:
        files = sorted(glob.glob(os.path.join(d, "**", "*.class"), recursive=True))
        if not files:
            continue
        parse_verbose(javap(["-c", "-p", "-v", "-l"], files), origin, classes)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--classpath",
                    help="jars holding Spark and Scala, for their supertypes' methods "
                         "(default: the build's unmanagedBase jars)")
    a = ap.parse_args()
    if a.classpath is None:
        base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                         open(os.path.join(a.repo, "build.sbt")).read())
        if not base:
            sys.exit("no unmanagedBase in build.sbt: pass --classpath")
        a.classpath = os.path.join(base.group(1), "*")
    t = os.path.join(a.repo, "target", "scala-2.13")
    sb = os.path.join(a.repo, "servebench", "target", "scala-2.13")
    main_dir, test_dir = os.path.join(t, "classes"), os.path.join(t, "test-classes")
    for d in (main_dir, test_dir, os.path.join(sb, "classes")):
        if not glob.glob(os.path.join(d, "**", "*.class"), recursive=True):
            sys.exit(f"no classes under {d}: run `sbt Test/compile` and "
                     f"`cd servebench && sbt compile` first")
    classes = load([("main", main_dir), ("servebench", os.path.join(sb, "classes")),
                    ("test", test_dir), ("test", os.path.join(sb, "test-classes"))])
    external = {s for k in classes.values() for s in k.supers if s not in classes}
    ext = external_members(sorted(external), a.classpath)
    # java.lang.Object is every class's supertype even when not named
    ext |= external_members(["java.lang.Object"], a.classpath)

    roots = [m.key for k in classes.values() for (n, d), m in k.methods.items()
             if (k.name, n) in ROOTS]
    if not roots:
        sys.exit("no root method found")
    base = always_live(classes)
    live = Graph(classes, ext).run(roots + base)
    test_roots = [m.key for k in classes.values() if k.origin == "test"
                  for m in k.methods.values()]
    live_t = Graph(classes, ext).run(roots + base + test_roots)

    rank = {"live": 2, "test-only": 1, "dead": 0}

    def own_status(m):
        return "live" if m.key in live else "test-only" if m.key in live_t else "dead"

    def status(k, m):
        st = own_status(m)
        owners = folded_into(k, m, classes)
        if owners is None or st == "live":
            return st
        if not owners:
            return "live"
        best = max((own_status(classes[c].methods[(n, d)]) for c, n, d in owners), key=rank.get)
        return max(st, best, key=rank.get)

    def src(k):
        pkg = k.name.rsplit(".", 1)[0].replace(".", "/") + "/" if "." in k.name else ""
        return pkg + k.source

    mains = sorted((k for k in classes.values() if k.origin == "main"), key=lambda c: c.name)
    owned = {"live": set(), "test-only": set(), "dead": set()}
    per_class, dead_methods = [], 0
    for k in mains:
        rows, klines = [], set()
        for m in sorted(k.methods.values(), key=lambda x: (x.name, x.desc)):
            st = status(k, m)
            lines = {(src(k), ln) for ln in m.lines}
            klines |= lines
            owned[st] |= lines
            if st != "live" and folded_into(k, m, classes) is None:
                rows.append((st, m, lines))
                dead_methods += st == "dead"
        per_class.append((k, klines, rows))
    test_only = owned["test-only"] - owned["live"]
    dead = owned["dead"] - owned["live"] - test_only
    all_lines = owned["live"] | test_only | dead

    print("# reachability of src/main (executable lines = LineNumberTable entries)")
    print(f"roots: {', '.join(sorted({f'{c}.{n}' for c, n in ROOTS}))}")
    for k, klines, rows in per_class:
        print(f"\n{k.name}  [{src(k)}]  executable {len(klines)}, "
              f"unreachable {len(klines & (test_only | dead))}")
        for st, m, lines in rows:
            print(f"  {st:9} {m.name}{m.desc}  lines {len(lines)}")
    print(f"\nsummary: {len(all_lines)} executable lines in src/main; "
          f"unreachable {len(test_only) + len(dead)} (dead {len(dead)}, "
          f"test-only {len(test_only)}); dead methods {dead_methods}")
    return 1 if dead_methods else 0


if __name__ == "__main__":
    sys.exit(main())
