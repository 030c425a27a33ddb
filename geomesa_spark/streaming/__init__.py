from geomesa_spark.streaming.kafka import (  # noqa: F401
    KAFKA_WIRE_SCHEMA,
    kafka_changelog,
    kafka_live_view,
    kafka_raw_reader,
    kafka_reader_options,
)
from geomesa_spark.streaming.upsert import (  # noqa: F401
    apply_changelog,
    expire_ttl,
    replay_state,
    upsert_stream,
)
from geomesa_spark.streaming.ingest import (  # noqa: F401
    dedup_batch,
    ingest_dedup_stream,
    replay_dedup,
)
from geomesa_spark.streaming.geofence import geofence_stream  # noqa: F401
from geomesa_spark.streaming.stops import (  # noqa: F401
    flush_open_stops,
    stop_stream,
)
from geomesa_spark.streaming.cotravel import (  # noqa: F401
    cotravel_stream,
    read_pair_counts,
)
from geomesa_spark.streaming.hotspot import (  # noqa: F401
    hotspot_stream,
    read_hot_now,
)
from geomesa_spark.streaming.flow import (  # noqa: F401
    flow_stream,
    read_flow_field_now,
)
