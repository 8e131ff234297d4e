package graft.net

/** Where and how to reach one Redis node: address, credentials
  * ("password" or the ACL form "user password"), transport (TLS, and
  * `tlsTrustAll` for self-signed test/dev servers only) and protocol
  * (`resp3` sends HELLO 3 on connect).
  *
  * One value travels from option parsing to every connection the
  * connector opens: DSv2 partitions, writer factories, the per-thread
  * pool key and cluster redirects all carry it whole, so no hop can
  * drop TLS or the credential. Serializable (a case class), so it ships
  * inside input partitions; `toString` masks the credential, so task
  * logs and plan dumps never print it.
  */
final case class RedisEndpoint(host: String, port: Int,
    auth: Option[String] = None, tls: Boolean = false,
    tlsTrustAll: Boolean = false, resp3: Boolean = false) {

  /** The same deployment (credentials, transport, protocol) at another
    * node — a MOVED/ASK target or a cluster master.
    */
  def at(host: String, port: Int): RedisEndpoint = copy(host = host, port = port)

  override def toString: String =
    s"RedisEndpoint($host:$port,auth=${if (auth.isDefined) "***" else "none"}," +
      s"tls=$tls,tlsTrustAll=$tlsTrustAll,resp3=$resp3)"
}
