"""Large differential campaign across all op families; prints mismatches."""
import base64, itertools, os, random, subprocess, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jsoup_spark.parser.treebuilder import parse, parse_fragment
from jsoup_spark.parser.xmlbuilder import parse_xml
from jsoup_spark.extract.canonical import canonical
from jsoup_spark.extract.spans import extract_spans
from jsoup_spark.clean.serializer import inner_html

SEP1, SEP2 = chr(1), chr(2)
def b64(s): return base64.b64encode(s.encode()).decode()

TAGS = ["div","p","b","i","a","span","table","tr","td","th","ul","ol","li","h1","h2","h3","em","strong",
        "form","input","select","option","optgroup","button","pre","script","style","title","textarea",
        "svg","math","mi","mo","ms","mtext","annotation-xml","foreignObject","desc","template","caption",
        "colgroup","col","thead","tbody","tfoot","nobr","ruby","rt","rp","rb","rtc","dd","dt","dl","img",
        "br","hr","iframe","noscript","noframes","frameset","frame","body","head","html","font","small",
        "u","s","strike","marquee","object","applet","xmp","plaintext","listing","base","meta","link",
        "area","wbr","keygen","embed","custom-tag","FOO-bar","address","article","center","fieldset",
        "figure","main","nav","section","aside","header","footer","details","summary","dialog","data",
        "time","mark","bdi","bdo","cite","q","samp","kbd","var","abbr","dfn","ins","del","sup","sub",
        "picture","source","track","video","audio","canvas","map","label","legend","datalist","output",
        "progress","meter","slot","hgroup","search","menu","dir","big","tt","acronym","isindex","image"]
WORDS = ["foo","bar  baz","&amp;","&notit","x<y","a&#66;c","  "," nb","tail","\ttab\n","&#x1F600;",
         "&frac12;","&Ab;","nul\x00l","\xa0nb\xa0","e​z","so\xadft","&lt;&gt;","mixed Case",
         "&#xD;","&#13;","\r\n","&NotNestedGreaterGreater;","&CounterClockwiseContourIntegral;"]
ATTRS = ["id=a","class='x y'","href=/p?a=1&b=2","data-k=\"v\"","selected","TITLE=Zed","id=a id=b",
         "a=\"q'q\"","a='&lt;'","encoding=text/html","type=hidden","type=text","color=red","xml:lang=en",
         "style='x:1'","checked=checked","value=''","k=v=w","=bare","'quoted'=x","a =  spaced",
         "viewBox='0 0 1 1'","viewBox=1 viewbox=2","ID=1 id=2","Data-K=V"]
MARKERS = ["<!-- c -->","<!--->","<!---->","<!doctype html>","<![CDATA[cd]]>","<?proc?>","<!bogus>",
           "<br/>","<b/>","<!DOCTYPE html PUBLIC 'p' 's'>","<!-- x --!>","</>","<!DOCTYPE  >",
           "<! >","<!doctype html public>","<!doctype html system 'x'>"]

def rand_html(rng, n):
    parts = []
    for _ in range(n):
        r = rng.random()
        tag = rng.choice(TAGS)
        if r < 0.45:
            a = ""
            for _ in range(rng.randint(0, 2)):
                if rng.random() < 0.5:
                    a += " " + rng.choice(ATTRS)
            sc = "/" if rng.random() < 0.08 else ""
            parts.append(f"<{tag}{a}{sc}>")
        elif r < 0.7:
            parts.append(f"</{tag}>")
        elif r < 0.9:
            parts.append(rng.choice(WORDS))
        else:
            parts.append(rng.choice(MARKERS))
    return "".join(parts)

def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 9000
    N = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
    rng = random.Random(seed)
    cases = [rand_html(rng, rng.randint(3, 80)) for _ in range(N)]

    ops = []
    for h in cases:
        ops.append(("tree", h, ""))
    for h in cases[:N//3]:
        ops.append(("spans", h, "http://base.example/x/"))
    for h in cases[:N//3]:
        ops.append(("bodyhtml", h, ""))
    for h in cases[:N//6]:
        ops.append(("fragtree", h, rng.choice(["div","ul","tr","table","b","select","p"])))

    inp = "\n".join("\t".join([op[0]] + [b64(a) for a in op[1:]]) for op in ops)
    r = subprocess.run(["java","-cp","/tmp/jsoupbuild/out","Harness"], input=inp,
                       capture_output=True, text=True)
    lines = r.stdout.split("\n")[:-1]
    assert len(lines) == len(ops), (len(lines), len(ops))
    def fmt_spans(sp): return SEP2.join(f"{k}{SEP1}{t}{SEP1}{m}" for k,t,m,_ in sp)
    bad = 0
    for (op, h, a), line in zip(ops, lines):
        golden = base64.b64decode(line).decode()
        try:
            if op == "tree": mine = canonical(parse(h))
            elif op == "spans": mine = fmt_spans(extract_spans(parse(h, a)))
            elif op == "bodyhtml":
                doc = parse(h); mine = inner_html(doc.body) if doc.body is not None else ""
            else: mine = canonical(parse_fragment(h, a))
        except Exception as e:
            mine = f"!EXC {type(e).__name__}: {e}"
        if mine != golden:
            bad += 1
            if bad <= 6:
                i = next((i for i,(x,y) in enumerate(itertools.zip_longest(golden,mine)) if x!=y), -1)
                print(f"MISMATCH op={op} ctx={a!r} IN: {h[:140]!r}")
                print("  GOLD:", repr(golden[max(0,i-70):i+90]))
                print("  MINE:", repr(mine[max(0,i-70):i+90]))
    print(f"seed={seed}: {len(ops)-bad}/{len(ops)} match")


if __name__ == "__main__":
    main()
