SELECT deviceId, ts,
       lag(temperature) OVER (PARTITION BY deviceId) AS prev,
       acc_sum(temperature) OVER (PARTITION BY deviceId) AS total,
       had_changed(true, status) OVER (PARTITION BY deviceId
                                       WHEN temperature > 20) AS chg
FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')
