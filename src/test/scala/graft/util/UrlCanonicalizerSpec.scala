package graft.util

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class UrlCanonicalizerSpec extends AnyFunSuite {
  import UrlCanonicalizer._

  test("scheme+host lowercased, default port stripped, fragment dropped") {
    assert(canonicalize("HTTP://Example.COM:80/A/b?x=1#frag") == "http://example.com/A/b?x=1")
    assert(canonicalize("https://Example.com:443/") == "https://example.com/")
    assert(canonicalize("https://example.com:8443/p") == "https://example.com:8443/p")
  }

  test("query params sorted, empty query dropped, path defaulted") {
    assert(canonicalize("http://h.com?b=2&a=1") == "http://h.com/?a=1&b=2")
    assert(canonicalize("http://h.com/p?") == "http://h.com/p")
    assert(canonicalize("http://h.com") == "http://h.com/")
    assert(canonicalize("http://h.com/p?b=2&a=10&a=1") == "http://h.com/p?a=1&a=10&b=2")
    assert(canonicalize("http://h.com/p?flag&a=1") == "http://h.com/p?a=1&flag")
  }

  test("many duplicate query params never crash the sort (TimSort contract)") {
    // >= 32 tokens triggers TimSort, which throws on inconsistent comparators;
    // identical duplicates made the old non-strict comparator inconsistent
    val dupes = Seq.fill(64)("a=1").mkString("&")
    assert(canonicalize(s"http://h.com/p?$dupes") == "http://h.com/p?" + Seq.fill(64)("a=1").mkString("&"))
    val mixed = (Seq.fill(40)("k=v") ++ Seq.fill(40)("b=2")).mkString("&")
    assert(canonicalize(s"http://h.com/p?$mixed") ==
      "http://h.com/p?" + (Seq.fill(40)("b=2") ++ Seq.fill(40)("k=v")).mkString("&"))
  }

  test("non-absolute inputs pass through trimmed") {
    assert(canonicalize(" mailto:x@y.z ") == "mailto:x@y.z")
    assert(canonicalize("/relative/path") == "/relative/path")
  }

  test("host extraction") {
    assert(host("https://a.b.c/p?q") == "a.b.c")
    assert(host("http://user@h.com:8080/x") == "h.com")
    assert(host("https://h.com") == "h.com")
    assert(host("not a url") == "")
  }

  test("resolve: browser a.href-style resolution") {
    val base = "https://h.com/dir/page.html?q=1"
    assert(resolve(base, "https://other.com/x") == "https://other.com/x")
    assert(resolve(base, "//cdn.com/y") == "https://cdn.com/y")
    assert(resolve(base, "/root.html") == "https://h.com/root.html")
    assert(resolve(base, "sib.html") == "https://h.com/dir/sib.html")
    assert(resolve(base, "./sib.html") == "https://h.com/dir/sib.html")
    assert(resolve(base, "../up.html") == "https://h.com/up.html")
    assert(resolve(base, "") == base)
    assert(resolve(base, "#frag") == "https://h.com/dir/page.html?q=1#frag")
    assert(resolve(base, "?x=2") == "https://h.com/dir/page.html?x=2")
  }

  test("resolve: embedded URLs, query dot-segments, and fragment bases (round-5 review)") {
    val base = "https://h.com/dir/page.html?q=1"
    // a root-relative href with an EMBEDDED absolute URL is not absolute
    assert(resolve(base, "/login?next=https://a.com/home") ==
      "https://h.com/login?next=https://a.com/home")
    assert(resolve(base, "go?to=http://b.com") == "https://h.com/dir/go?to=http://b.com")
    // dot-segments inside the href's query are DATA, never collapsed
    assert(resolve(base, "z?p=/a/../b") == "https://h.com/dir/z?p=/a/../b")
    assert(resolve(base, "../z#s/../t") == "https://h.com/z#s/../t")
    // a query-only href drops the base's fragment too
    assert(resolve("https://h.com/p#f", "?x=1") == "https://h.com/p?x=1")
    // scheme validity: letters then alnum/+/./- only ("weird scheme" is
    // not a scheme, so this resolves as a relative PATH; the resolver's
    // documented empty-segment simplification collapses the "//")
    assert(resolve(base, "weird scheme://x") == "https://h.com/dir/weird scheme:/x")
    assert(resolve(base, "ftp://files.com/a") == "ftp://files.com/a")
    // trailing-slash relative href keeps its query after the dir slash
    assert(resolve(base, "sub/?x=1") == "https://h.com/dir/sub/?x=1")
  }

  // dedup keys on url_hash and stores the canonical url: a stored url must
  // canonicalize to itself, so it hashes back to the same url_hash
  test("canonicalization is idempotent") {
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https")
      host <- Gen.oneOf("Example.com", "a.b.c", "HOST.io:8080", "x.com:80")
      path <- Gen.oneOf("", "/", "/A/b", "/p//q", "/x%20y")
      query <- Gen.oneOf("", "?b=2&a=1", "?flag&z=9&a", "?")
      frag <- Gen.oneOf("", "#f", "#a?b")
    } yield s"$scheme://$host$path$query$frag"
    val urls = Gen.listOfN(300, urlGen).apply(Gen.Parameters.default, Seed(11L)).get
    urls.foreach { u =>
      val once = canonicalize(u)
      assert(canonicalize(once) == once, s"not idempotent: $u -> $once")
      assert(urlHash(once) == urlHash(u), s"stored form re-hashes differently: $u -> $once")
    }
  }

  test("urlHash is canonical-form-invariant") {
    assert(urlHash("HTTP://H.com:80/p?b=2&a=1#f") == urlHash("http://h.com/p?a=1&b=2"))
    assert(urlHash("http://h.com/p") != urlHash("http://h.com/q"))
  }
}
