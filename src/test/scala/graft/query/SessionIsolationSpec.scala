package graft.query

import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors, TimeUnit}

import graft.SparkSpec
import graft.catalog.TableStore
import graft.ingest.DynRecord
import graft.serve.ServiceFacade

/** Engines and facades sharing one SparkSession keep their own tables:
  * a query binds its relations privately, so another engine's queries
  * on the same session can never change what a name resolves to. */
class SessionIsolationSpec extends SparkSpec {

  private def rec(id: String) =
    DynRecord(id, Timestamp.valueOf("2024-01-01 10:00:00"), Map("v" -> 1))

  test("engines over different stores on one session answer from their own store") {
    // both stores hold a table `t`, with 3 and 5 rows
    val engines = Seq(3, 5).map { n =>
      val store = new TableStore(spark, tmpDir("iso"))
      store.write("t", (1 to n).map(i => rec(s"r$i")))
      store.flush("t")
      n -> new QueryEngine(store)
    }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val clients = for ((n, engine) <- engines; _ <- 1 to 2) yield pool.submit(
        new Callable[Seq[String]] {
          def call(): Seq[String] = (1 to 50).flatMap { _ =>
            val got = engine.executeJson("SELECT count(*) AS n FROM t", useCache = false)
            if (got == Right(s"""[{"n":$n}]""")) None else Some(s"want $n, got $got")
          }
        })
      val wrong = clients.flatMap(_.get(5, TimeUnit.MINUTES))
      assert(wrong.isEmpty, s"${wrong.size} of 200 answers were wrong: ${wrong.take(3)}")
    } finally pool.shutdownNow()
  }

  test("facades with different default tables on one session resolve 'FROM table' to their own") {
    val store = new TableStore(spark, tmpDir("iso"))
    val facades = Seq("alpha" -> 2, "beta" -> 4).map { case (table, n) =>
      val svc = new ServiceFacade(store, defaultTable = Some(table))
      (1 to n).foreach(i => svc.writeData(table, rec(s"$table$i")))
      store.flush(table)
      n -> svc
    }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val clients = for ((n, svc) <- facades; c <- 1 to 2) yield pool.submit(
        new Callable[Seq[String]] {
          // distinct texts per client, so most requests miss the cache
          def call(): Seq[String] = (1 to 10).flatMap { i =>
            val got = svc.queryData(s"SELECT count(*) + ${c * 100 + i} AS n FROM table")
            val want = s"""[{"n":${n + c * 100 + i}}]"""
            if (got == Right(want)) None else Some(s"want $want, got $got")
          }
        })
      val wrong = clients.flatMap(_.get(5, TimeUnit.MINUTES))
      assert(wrong.isEmpty, s"${wrong.size} of 40 answers were wrong: ${wrong.take(3)}")
    } finally pool.shutdownNow()
  }
}
