package graft

package object topics {

  /** Most cells (vocab × topics) of the word-topic counter table that
    * [[LDA]] and [[GSDMM]] collect to the driver and broadcast every
    * Gibbs superstep. */
  private[topics] val CounterCeiling: Long = 8L * 1000 * 1000

  /** Fails loudly, before any Spark job, when the counter table would
    * exceed [[CounterCeiling]]. */
  private[topics] def requireCounterCeiling(kernel: String, numWords: Int,
      numTopics: Int): Unit =
    require(numWords.toLong * numTopics <= CounterCeiling,
      s"$kernel: vocab $numWords × topics $numTopics exceeds the counter " +
        s"ceiling $CounterCeiling; reduce vocab or topics — the word-topic " +
        "counter table is collected to the driver every superstep")
}
