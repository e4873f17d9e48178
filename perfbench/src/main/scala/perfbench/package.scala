package object perfbench {
  /** An operation's output check: None when right, else why it is wrong. */
  type Check = () => Option[String]
}
