package graft.sources

/** Suite-level release hook for every in-process connector store.
  *
  * The connector analogs keep fixture data in JVM-wide maps (the
  * documented in-process substitution for the reference's external
  * servers, e.g. `presto-kafka/.../KafkaConnectorFactory.java:39`).
  * Each gate drops + recreates its own store at gate START, so within
  * a gate the contents are always fresh — but a 400-query suite run
  * in ONE JVM otherwise retains every store's last fixture (hundreds
  * of thousands of boxed row objects across kudu/druid/cassandra/...)
  * for the rest of the run, which reads as old-gen GC pressure on all
  * later queries (the round-11 suite-wide 8% drift). Bench and Verify
  * call [[releaseAll]] between queries: correctness is unaffected
  * (gates never read another gate's store) and the heap returns to
  * baseline before each timed region.
  */
object Stores {
  def releaseAll(): Unit = {
    AccStore.tables.clear()
    AtopLogStore.clearAll()
    CassStore.tables.clear()
    DruidStore.datasources.clear()
    EsStore.indexes.clear()
    ExampleHttpStore.clearAll()
    KafkaLog.topics.clear()
    KuduStore.tables.clear()
    MongoStore.collections.clear()
    PinotStore.tables.clear()
    RedisStore.flushAll()
    ThriftRegistry.services.clear()
    MemoryConn.store.clear()
    MySqlStore.clearAll()
    PgStore.clearAll()
    MsStore.clearAll()
  }
}
