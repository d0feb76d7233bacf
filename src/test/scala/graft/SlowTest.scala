package graft

import org.scalatest.Tag

/** The slow test tier. The default `sbt test` excludes tests tagged
  * here (build.sbt adds `-l graft.Slow` unless GRAFT_SLOW_TESTS is set),
  * so it finishes in about ten minutes instead of over half an hour.
  * The five tagged tests sweep the whole registry or a large replay,
  * which a full `graft.Verify` + DuckDB oracle run also covers:
  *
  *  - OperatorsSpec: "every registered operator returns rows",
  *    "every oracle-backed query is partitioning-invariant" and
  *    "registry names are unique and oracle columns align";
  *  - PowerSpec: "solve-n chain lands on 80% exact power";
  *  - Round11Spec: "z layouts never change an answer".
  *
  *   GRAFT_SLOW_TESTS=1 sbt "testOnly -- -n graft.Slow"   // slow tier
  *   GRAFT_SLOW_TESTS=1 sbt test                          // everything
  */
object SlowTest extends Tag("graft.Slow")
